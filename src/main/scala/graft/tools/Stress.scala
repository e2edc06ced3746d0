package graft.tools

import graft.functions.{HashFunctions, ShingleFunctions}
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bus.drain

/** Scale-headroom probe: runs the hot operators on synthetic data 1-2
  * orders of magnitude past sf0.1 to verify the shuffle/partition
  * design holds (not part of the driver gates; results recorded in
  * README). Run: sbt "runMain graft.tools.Stress"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // optional substring filter: `runMain graft.tools.Stress span`
    // runs only probes whose name contains "span" (plan definitions
    // outside the timed blocks are lazy, so skipping costs nothing)
    def enabled(name: String): Boolean =
      args.isEmpty || name.contains(args(0))

    def time[T](name: String)(f: => T): Unit = if (enabled(name)) {
      val t0 = System.nanoTime()
      val r = f
      println(f"$name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($r)")
    }

    // 50M-row aggregation (~80x sf0.1 lineitem)
    val wide = spark.range(0, 50000000L, 1, 64).select(
      col("id"),
      (col("id") % 7).as("k1"), (col("id") % 3).as("k2"),
      (col("id") % 1000 / 10.0).as("v1"), (col("id") % 97 / 96.0).as("v2"))
    time("agg 50M rows, 21 groups") {
      wide.groupBy("k1", "k2").agg(sum("v1"), avg("v2"), count(lit(1)))
        .collect().length
    }

    // 50M x 5M shuffle join (dim far exceeds the broadcast threshold)
    val dim = spark.range(0, 5000000L).select(col("id").as("k"),
      (col("id") % 13).as("attr"))
    time("join 50M x 5M (shuffle)") {
      wide.join(dim, wide("id") === dim("k")).count()
    }

    // 1M synthetic docs (~60 tokens each): shingle+minhash signatures
    val docs = spark.range(0, 1000000L, 1, 64).select(col("id"),
      concat_ws(" ", (0 until 60).map(i =>
        concat(lit("tok"), ((col("id") + i) % 50000).cast("string"))): _*)
        .as("text"))
    time("minhash sigs, 1M docs x 128 perms") {
      docs.select(HashFunctions.minhashSignature(
          ShingleFunctions.shingleHashes(col("text"), 3), 128).as("sig"))
        .select(sum(element_at(col("sig"), 1))).collect().head.getLong(0)
    }

    // exact dedup over 1M docs with planted dup rate ~2%
    val dupDocs = docs.withColumn("text",
      when(col("id") % 50 === 0, lit("duplicate boilerplate text"))
        .otherwise(col("text")))
    time("exact dedup, 1M docs") {
      Dedup.exact(dupDocs, "id", "text").count()
    }

    // 200k x 64-dim ANN brute force for 5 queries
    val vecs = spark.range(0, 200000L, 1, 64).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(xxhash64(col("id") * 64 + i), lit(1000)).cast("float")
          / 1000.0f - 0.5f).cast("array<float>").as("embedding"))
    time("ANN brute force 5 x 200k x 64d") {
      Similarity.bruteForceTopK(vecs, vecs.filter(col("id") < 5),
        "id", "embedding", "id", "embedding", k = 10).count()
    }

    // ---- 10M x 64-dim embedding corpus (sf0.1 ships 2k vectors; this
    // is 5000x) — the LSH bucket paths only, which ARE the scale
    // story: signatures are one codegen'd pass, candidates come from
    // capped equi-join buckets (never all-pairs), the corpus never
    // shuffles for ANN. Shuffle-write bytes are accounted per scenario
    // via a task-metrics listener so the README can pin the claim.
    val shuffleW = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      })
    def timeShuffle(name: String)(f: => Any): Unit = if (enabled(name)) {
      drain(spark.sparkContext)
      val s0 = shuffleW.get
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      drain(spark.sparkContext)
      val gb = (shuffleW.get - s0) / 1e9
      println(f"$name%-40s $secs%8.2f s  (shuffle $gb%.2f GB written) ($r)")
    }
    // 2% planted exact-duplicate pairs: rows 0..200k carry the same
    // vector as rows 5M..5.2M (content-keyed hash), the rest unique
    val contentId = when(col("id") < 200000L, col("id") + 5000000L)
      .otherwise(col("id"))
    val bigVecs = spark.range(0, 10000000L, 1, 64).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(xxhash64(contentId * 64 + i), lit(1000)).cast("float")
          / 1000.0f - 0.5f).cast("array<float>").as("embedding"))
    timeShuffle("embedding LSH dedup 10M x 64d") {
      // 24-bit buckets keep random-collision candidates ~Poisson(0.6)
      // per bucket; the planted dups collide in all 4 tables
      Dedup.embeddingPairs(bigVecs, "id", "embedding", threshold = 0.9,
        planes = 24, tables = 4, bucketCap = 2000).count()
    }
    timeShuffle("ANN LSH top-k 5 x 10M x 64d") {
      Similarity.lshTopK(bigVecs, bigVecs.filter(col("id") < 5),
        "id", "embedding", "id", "embedding", k = 10).count()
    }
    timeShuffle("ANN IVF top-k 5 x 10M x 64d (fused assign)") {
      // trains on a 2048-row sample; the 10M-row centroid assignment
      // runs through the fused NearestCentroid codegen kernel
      val index = Similarity.fitIvf(bigVecs, "embedding", "id", nlist = 16)
      Similarity.ivfTopK(bigVecs, bigVecs.filter(col("id") < 5),
        "id", "embedding", "id", "embedding", k = 10,
        index, nprobe = 4).count()
    }
    // float vs int8 brute force over the same 2M-row corpus slice:
    // the quantized scan reads 4x fewer vector bytes and dots ints
    val midVecs = bigVecs.filter(col("id") < 2000000L)
    timeShuffle("ANN float brute force 5 x 2M x 64d") {
      Similarity.bruteForceTopK(midVecs, midVecs.filter(col("id") < 5),
        "id", "embedding", "id", "embedding", k = 10).count()
    }
    timeShuffle("ANN int8 brute force 5 x 2M x 64d") {
      Similarity.int8TopK(midVecs, midVecs.filter(col("id") < 5),
        "id", "embedding", "id", "embedding", k = 10).count()
    }
    // per-row text kernels at 1M docs: both scan-bound, no shuffle
    timeShuffle("repetition stats, 1M docs") {
      docs.select(graft.functions.RepetitionFunctions
          .repetitionStats(col("text")).as("r"))
        .agg(sum(element_at(col("r"), 1))).collect().head.getDouble(0)
    }
    timeShuffle("chunker 64/16, 1M docs") {
      graft.ops.Chunker.chunk(docs, "id", "text", 64, 16).count()
    }
    // model-based scoring at 1M docs: the LM fit is one token-count
    // shuffle + a 64-row collect; scoring is a shuffle-free scan with
    // the model inlined as a literal map
    timeShuffle("unigram-LM fit + score 1M docs") {
      val m = graft.ops.Scoring.fitUnigram(docs, col("text"), 64)
      docs.select(graft.ops.Scoring.crossEntropy(col("text"), m).as("x"))
        .agg(sum("x")).collect().head.getDouble(0).round
    }
    // hashed-NB: fit on a bounded 200k labeled subset spanning both
    // classes (one count shuffle), then score all 1M with the
    // shuffle-free inline fold; the only driver state is the
    // 1024-bucket weight vector. (The trainer derives its prior from
    // the labels that joined the feature rows, so the oversupplied
    // 1M-row label table is harmless.)
    timeShuffle("hashed-NB fit 200k + score 1M docs") {
      val labels = docs.select(col("id"),
        (col("id") % 2).cast("double").as("y"))
      val train = docs.filter(col("id") % 10 <= 1)
      val ft = graft.ops.Scoring.featureCounts(train, "id", col("text"), 1024)
      val m = graft.ops.Scoring.trainNaiveBayes(ft, labels, "id")
      docs.select(element_at(graft.ops.Scoring
          .inlineStats(col("text"), 1024, m.w), 1).as("margin"))
        .filter(col("margin") > 0).count()
    }

    // intra-doc span dedup: expression-only scan; the planted stutter
    // (every doc repeats its own first 10 tokens) must be excised
    timeShuffle("span dedup (k=3), 1M docs") {
      val stutter = docs.withColumn("text",
        concat_ws(" ", col("text"), substring_index(col("text"), " ", 10)))
      graft.ops.SpanDedup.clean(stutter, "id", col("text"), 3)
        .agg(sum("n_removed")).collect().head.getLong(0)
    }

    // BPE encode under a production-sized merge table: 1000 merges
    // through ONE BpeEncode kernel (plan depth constant in the merge
    // count; a chained-replace formulation would be a 1000-deep
    // expression tree). Merge list is constructively training-valid:
    // 676 char-pair merges + a 324-deep chain of grown symbols.
    timeShuffle("BPE encode 1M docs, 1000 merges") {
      val letters = ('a' to 'z').map(_.toString)
      val pairMerges = for (a <- letters; b <- letters) yield (a, b)
      val chain = scala.collection.mutable.Buffer.empty[(String, String)]
      var sym = "ab"
      for (i <- 0 until 324) {
        val c = letters(i % 26)
        chain += ((sym, c))
        sym = sym + c
      }
      val merges = (pairMerges ++ chain).toSeq
      docs.select(size(graft.functions.BpeFunctions
          .bpeEncode(col("text"), merges)).as("n"))
        .agg(sum("n")).collect().head.getLong(0)
    }

    // X52a: budgeted selection's running total at 10M rows through the
    // two-pass distributed prefix sum (quantile buckets -> partitioned
    // window -> literal offsets) — no single-partition stage; the
    // returned max(cum) = Σ n_tokens double-checks the arithmetic
    timeShuffle("token-budget cumsum 10M rows (two-pass)") {
      val rows = spark.range(0, 10000000L, 1, 64).select(
        col("id").as("doc_id"),
        (col("id") % 997 + 1).as("n_tokens"),
        (pmod(xxhash64(col("id")), lit(1000000)).cast("double")
          / 1000000.0).as("score"))
      val cum = graft.ops.PrefixSum.runningTotalDesc(rows,
        "n_tokens", "score", "doc_id", "cum")
      val r = cum.agg(max("cum"), count(lit(1))).collect().head
      s"total=${r.getLong(0)} rows=${r.getLong(1)}"
    }

    // X52b: deterministic source-interleave schedule at 10M docs, 16
    // sources — per-source ranks from a partitioned window, global
    // position in closed form over driver-collected per-source counts
    timeShuffle("interleave schedule 10M docs, 16 sources") {
      import org.apache.spark.sql.expressions.Window
      val d10 = spark.range(0, 10000000L, 1, 64).select(
        col("id").as("doc_id"),
        concat(lit("src"), (col("id") % 16).cast("string")).as("source"))
      val counts = d10.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      val w = Window.partitionBy("source")
        .orderBy(md5(concat(lit("il:"), col("doc_id").cast("string"))),
          col("doc_id"))
      val ranked = d10.select(col("doc_id"), col("source"),
        row_number().over(w).cast("long").as("rank"))
      val ord = counts.foldLeft(lit(1L)) { case (acc, (src, c)) =>
        acc + least(col("rank") - 1L, lit(c)) +
          when(lit(src) < col("source") && lit(c) >= col("rank"), 1L)
            .otherwise(0L)
      }
      val r = ranked.withColumn("ord", ord)
        .agg(max("ord"), count(lit(1))).collect().head
      s"max_ord=${r.getLong(0)} rows=${r.getLong(1)}"
    }

    // X47: deterministic sharded write at 10M docs x 64 shards — one
    // fixed-cardinality repartition + within-partition sort, then a
    // partitioned parquet write
    val shardDir = java.nio.file.Files
      .createTempDirectory("graft-stress-shard")
    timeShuffle("writeSharded 10M docs x 64 shards") {
      val d10 = spark.range(0, 10000000L, 1, 64).select(
        col("id").as("doc_id"),
        md5(col("id").cast("string")).as("text"))
      graft.ops.Shard.writeSharded(d10, "doc_id", 64, s"$shardDir/out")
      spark.read.parquet(s"$shardDir/out").count()
    }

    // the flagship dictionary-driven pipeline at ~75000x the fixture
    // size: 300k-row SBP/NSLP TSVs through ingest->clean->derive->join
    val dir = java.nio.file.Files.createTempDirectory("graft-stress")
    val n = 300000L
    def idCols = Seq(
      concat(lit("A"), col("id").cast("string")).as("AGENCY_CODE"),
      lit("Agency").as("AGENCY_NAME"),
      concat(lit("School "), col("id").cast("string")).as("school name"),
      lit("2017-10-01").as("claim date"),
      (col("id") % 900000 + 1).cast("string").as("district id"),
      (col("id") % 5000).cast("string").as("School ID"))
    spark.range(0, n, 1, 32).select(idCols ++ Seq(
        lit("Y").as("TRADITIONAL_MODEL"), lit("N").as("MID_MORNING_MODEL"),
        lit("N").as("CLASSROOM_MODEL"), lit("N").as("REDUCED_PRICE_MODEL"),
        lit("Y").as("GRAB_N_GO_MODEL"), lit("N").as("FREE_MODEL"),
        (col("id") % 500).cast("string").as("Breakfast Meals-Free"),
        (col("id") % 100).cast("string").as("Breakfast Meals-Reduced"),
        lit(null).cast("string").as("Breakfast Meals-Free and Reduced"),
        lit("18").as("Operating Days-Breakfast Only"),
        lit("22").as("Operating Days")): _*)
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(s"$dir/sbp")
    spark.range(0, n, 1, 32).select(idCols ++ Seq(
        lit("YES").as("PUBLIC"), lit("Regular").as("SCHOOL TYPE"),
        lit("High School").as("School Level-Original"),
        lit("N").as("CEP (Y/N)"),
        (col("id") % 700).cast("string").as("Lunch Meals-Free"),
        (col("id") % 200).cast("string").as("Lunch Meals-Reduced"),
        lit(null).cast("string").as("Lunch Meals-Free and Reduced"),
        (col("id") % 50).cast("string").as("Lunch Meals-Paid"),
        lit("20").as("Operating Days-Lunch Only"),
        lit("22").as("Operating Days"),
        (col("id") % 400).cast("string").as("Enrollment-Free"),
        (col("id") % 80).cast("string").as("Enrollment-Reduced"),
        lit(null).cast("string").as("Enrollment-Free and Reduced"),
        (col("id") % 1000 + 100).cast("string").as("Enrollment-Total"),
        lit("17-18").as("School Year")): _*)
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(s"$dir/nslp")
    time("clean pipeline, 300k-row state files") {
      graft.engine.Pipeline.run(spark, graft.engine.Pipeline.Config(
        dictPath("data_dictionary_template_1.txt"),
        dictPath("data_dictionary_template_2.txt"),
        breakfastPath = s"$dir/sbp", lunchPath = s"$dir/nslp")).count()
    }

    // PDF p.29 wide-schema scenario: a 614-column dictionary-driven
    // clean. Plan building is driver-side metadata work (must stay
    // milliseconds no matter the data volume), and the single-select
    // clean keeps Catalyst analysis LINEAR in width — vs the
    // reference's WHILE loops, which were ~2N DDL/materialization
    // passes over mutable tables.
    val nWide = 614
    val wideCols = (0 until nWide).map(i => s"RAW_COL_$i")
    // dictionary 1 covers the first 300 (every 20th NOT USED),
    // dictionary 2 the next 300; the last 14 are unmatched junk
    val wideDicts = graft.engine.Dictionary.DictRows(
      d1 = wideCols.take(300).zipWithIndex.map { case (c, i) =>
        c.toLowerCase ->
          Seq(if (i % 20 == 0) "NOT USED - wide" else s"Clean Col $i")
      }.toMap,
      d2 = wideCols.slice(300, 600).zipWithIndex.map { case (c, i) =>
        c.toLowerCase -> Seq(s"Clean Col ${i + 300}")
      }.toMap)
    var widePlan: graft.engine.CleanPlan = null
    time("wide plan build, 614-col dictionary (driver)") {
      widePlan = graft.engine.Dictionary.planLocal(wideCols, wideDicts)
      s"drops=${widePlan.drops.size} renames=${widePlan.renames.size}"
    }
    val wideDf = spark.range(0, 200000L, 1, 32).select(
      (0 until nWide).map(i =>
        ((col("id") + i) % 1000).cast("string").as(s"RAW_COL_$i")): _*)
    time("wide clean, 614 cols x 200k rows (noop sink)") {
      // noop write: every surviving column is materialized end to end,
      // so the measurement covers analysis + codegen + evaluation of
      // the full-width projection (count() would prune it away)
      widePlan.select(wideDf)
        .write.format("noop").mode("overwrite").save()
      s"kept=${widePlan(wideCols).size}"
    }

    // as-of join: 10M left x 10M right over 100k keys — the windowed
    // union never builds pairs, so this is one shuffle + sort
    val asofL = spark.range(0, 10000000L, 1, 64).select(
      col("id"), (col("id") % 100000).as("k"),
      (col("id") * 37 % 1000000000L).as("t"))
    val asofR = spark.range(0, 10000000L, 1, 64).select(
      (col("id") % 100000).as("k"),
      (col("id") * 53 % 1000000000L).as("t"),
      (col("id") % 1000).cast("double").as("v"))
    time("as-of join 10M x 10M, 100k keys") {
      // aggregate the carried payload so the window can't be pruned
      graft.ops.AsOf.asofJoin(asofL, asofR, Seq("k"), "t", "t",
          Seq("v"))
        .agg(sum("v"), count(lit(1))).collect().head.getLong(1)
    }

    // degenerate hot key: ALL 10M rows on ONE key. The plain as-of
    // serializes its window on a single task; the bucketed variant
    // spreads the same rows across ~time-span/bucket tasks — the
    // measured gap IS the parallelism the scaladoc promises.
    val hotL = spark.range(0, 5000000L, 1, 64).select(
      col("id"), lit(1L).as("k"), (col("id") * 3 + 1).as("t"))
    val hotR = spark.range(0, 5000000L, 1, 64).select(
      lit(1L).as("k"), (col("id") * 7).as("t"),
      (col("id") % 1000).cast("double").as("v"))
    time("as-of 5M x 5M, ONE hot key (plain)") {
      graft.ops.AsOf.asofJoin(hotL, hotR, Seq("k"), "t", "t", Seq("v"))
        .agg(sum("v"), count(lit(1))).collect().head.getLong(1)
    }
    time("as-of 5M x 5M, ONE hot key (bucketed)") {
      graft.ops.AsOf.asofJoinBucketed(hotL, hotR, Seq("k"), "t", "t",
          Seq("v"), bucketMicros = 250000L) // ~140 buckets
        .agg(sum("v"), count(lit(1))).collect().head.getLong(1)
    }

    // range join: 5M x 5M events over 10k HOT keys (500 rows/key —
    // naive per-key pairing would build 1.25G pairs; bucketing holds
    // it to temporally-adjacent rows)
    val rjL = spark.range(0, 5000000L, 1, 64).select(
      col("id"), (col("id") % 10000).as("k"),
      timestamp_micros(col("id") * 7919 % 86400000000L).as("t"))
    val rjR = spark.range(0, 5000000L, 1, 64).select(
      (col("id") % 10000).as("k"),
      timestamp_micros(col("id") * 104729 % 86400000000L).as("t"),
      (col("id") % 100).cast("double").as("v"))
    time("range join 5M x 5M, 10k hot keys, 1s window") {
      graft.ops.RangeJoin.timeRangeJoin(rjL, rjR, Seq("k"), "t", "t",
        0L, 1000000L, Seq("v")).count()
    }

    // contamination: 1M docs x 10k-doc benchmark, 8-gram keys
    time("contamination 1M docs vs 10k benchmark") {
      graft.ops.Contamination.ngramOverlap(docs,
        docs.filter(col("id") % 100 === 0), "id", "text", k = 8).count()
    }

    // X55: HTML stripping over 1M docs wearing full-page markup —
    // pure per-row kernel scan, no shuffle
    timeShuffle("strip html, 1M docs") {
      val dressed = docs.withColumn("text",
        concat(lit("<html><head><style>p{color:red}</style></head><body><p>"),
          col("text"),
          lit("</p><script>var x = 1 < 2;</script> Tom &amp; "
            + "Jerry</body></html>")))
      dressed.select(length(graft.functions.HtmlFunctions
          .stripHtml(col("text"))).as("n"))
        .agg(sum("n")).collect().head.getLong(0)
    }

    // X56: cross-doc paragraph dedup at 1M docs / ~6.1M paragraphs with
    // a planted viral paragraph in 10% of docs: winner election
    // shuffles only (md5, doc_id, pos) triples, text rejoins on
    // uniform (doc_id, pos) — the hot paragraph never concentrates
    // text in one partition
    timeShuffle("paragraph dedup 1M docs, ~6M paras") {
      val lines = docs.select(col("id").as("doc_id"),
        posexplode(concat(
          when(col("id") % 10 === 0,
            array(lit("subscribe to our newsletter now")))
            .otherwise(array().cast("array<string>")),
          transform(sequence(lit(0), lit(5)), i =>
            concat(lit("para"), ((col("id") * 7 + i) % 2000000)
              .cast("string"))))).as(Seq("pos", "line")))
        .withColumn("h", md5(col("line")))
      val winners = lines.select(col("h"), col("doc_id"), col("pos"))
        .groupBy("h")
        .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      val flags = lines.select(col("h"), col("doc_id"), col("pos"))
        .join(winners, "h")
        .select(col("doc_id"), col("pos"),
          (col("w.doc_id") === col("doc_id") &&
            col("w.pos") === col("pos")).as("kept"))
      val r = lines.join(flags, Seq("doc_id", "pos"))
        .agg(count(lit(1)), sum(when(!col("kept"), 1L).otherwise(0L)))
        .collect().head
      s"paras=${r.getLong(0)} dups=${r.getLong(1)}"
    }

    // X61: cross-doc exact-substring dedup at 1M docs, k=8 windows:
    // ~53M positional 60-bit window keys (the synthetic corpus is
    // adversarial — neighboring docs are shifted copies, so almost
    // every window repeats); winner election shuffles 16-byte
    // (key, doc_id, pos) triples only, rebuild is the fused
    // SpanRebuild kernel
    timeShuffle("substring dedup 1M docs, k=8") {
      graft.ops.SubstringDedup.clean(docs, "id", col("text"), 8)
        .agg(sum("n_removed")).collect().head.getLong(0)
    }

    // X59: per-language LM fits for 16 languages in ONE grouped count
    // shuffle, then every doc scored under its own language's model in
    // a shuffle-free literal-map scan
    timeShuffle("per-lang LM fit x16 + score, 1M docs") {
      val byLang = docs.withColumn("lang",
        concat(lit("l"), (col("id") % 16).cast("string")))
      val models = graft.ops.Scoring
        .fitUnigramByGroup(byLang, col("lang"), col("text"), 24)
      byLang.select(graft.ops.Scoring
          .crossEntropyByGroup(col("lang"), col("text"), models).as("x"))
        .agg(sum("x")).collect().head.getDouble(0).round
    }

    // X54: DSIR fit (one fixed-width bucket-count shuffle) + scoring
    // + hash-gated acceptance over 1M docs, target = 10% of corpus
    timeShuffle("DSIR fit + resample, 1M docs") {
      val m = graft.ops.Dsir.fit(docs, col("text"),
        col("id") % 10 === 0, 1024)
      docs.select(
          element_at(graft.ops.Dsir.logWeightStats(col("text"), m), 1)
            .as("lw"),
          graft.ops.Dsir.hashUniform(col("id"), "dsir:").as("u"))
        .filter(col("u") < least(exp(col("lw")), lit(1.0)))
        .count()
    }

    // X66: PageRank power iteration over a 10M-edge / 1M-node graph.
    // Two probes (5 vs 10 rounds): per-round cost is FLAT iff
    // t(10) ≈ 2·t(5) — the mechanical check that per-round
    // localCheckpoint keeps lineage (and the plan tree) from growing
    // with iteration count; only fixed-width (node, double) rows
    // shuffle, never adjacency text. Returned value is sum(pr)·1e6
    // rounded: conservation of mass (≈1.0) doubles as a sanity check.
    val prEdges = spark.range(0, 10000000L, 1, 64).select(
      (col("id") % 1000000L).as("src"),
      pmod(xxhash64(col("id")), lit(1000000L)).as("dst"))
    def prMass(iters: Int): Long =
      (graft.ops.PageRank.run(prEdges, "src", "dst", iters, 0.85)
        .agg(sum("pr")).collect().head.getDouble(0) * 1e6).round
    timeShuffle("pagerank 10M edges, 5 rounds") { prMass(5) }
    timeShuffle("pagerank 10M edges, 10 rounds") { prMass(10) }

    // X72: seeded PageRank on the same 10M-edge / 1M-node graph with a
    // 1k-node seed whitelist (0.1% of nodes — the realistic curated-
    // list proportion). Same round shape as X66, so the probe checks
    // the personalization adds no asymptotic cost: t ≈ the plain-PR
    // figure above, and returned mass still ≈ 1.0 (teleport+dangling
    // redistribution both seed-weighted).
    timeShuffle("seeded pagerank 10M edges, 5 rounds") {
      val seeds = spark.range(0, 1000000L, 1000L).toDF("v")
      (graft.ops.PageRank.runSeeded(prEdges, "src", "dst", seeds, 5, 0.85)
        .agg(sum("pr")).collect().head.getDouble(0) * 1e6).round
    }

    // X73: label propagation on the same graph. Two probes (4 vs 8
    // rounds): per-round cost is FLAT iff t(8) ≈ 2·t(4) — the same
    // localCheckpoint lineage check as PageRank. Each round shuffles
    // (v, lbl) longs keyed by v and (v, lbl) — never text. Returned
    // value = distinct communities after the rounds (data-dependent
    // but deterministic).
    def lpaCommunities(rounds: Int): Long =
      graft.ops.Communities.labelPropagation(prEdges, "src", "dst", rounds)
        .agg(countDistinct(col("community"))).collect().head.getLong(0)
    timeShuffle("label prop 10M edges, 4 rounds") { lpaCommunities(4) }
    timeShuffle("label prop 10M edges, 8 rounds") { lpaCommunities(8) }

    // X80: triangle counting on the same 10M-edge / 1M-node graph —
    // the degree-ordered-orientation claim at scale: wedges are
    // enumerated only at each edge's (deg, id)-smaller endpoint, so
    // hub nodes generate no wedge explosion and the join stays
    // O(Σ outdeg²) with outdeg ~ O(√E). Returned value = total
    // triangle incidences (Σ per-node counts = 3 × triangles).
    timeShuffle("triangles 10M edges") {
      graft.ops.Triangles.perNode(prEdges, "src", "dst")
        .agg(sum("n_triangles")).collect().head.getLong(0)
    }

    // X90: HITS on the same 10M-edge / 1M-node graph, 3 rounds — the
    // probe that evidences "one job per half-step": each half-step is
    // a keyed join + keyed aggregate + 1-row broadcast normalizer,
    // and per-round state is localCheckpoint'ed so cost stays flat in
    // rounds. Returned value = sum(hub)·1e6 rounded: L1 normalization
    // conservation (≈1.0) doubles as the sanity check.
    timeShuffle("hits 10M edges, 3 rounds") {
      (graft.ops.Hits.run(prEdges, "src", "dst", 3)
        .agg(sum("hub")).collect().head.getDouble(0) * 1e6).round
    }

    // X94: multi-source BFS on the same graph, 4 hops from a 1k-seed
    // whitelist. Each round shuffles only (node, int) rows; state is
    // checkpointed per hop. Returned value = nodes reached within the
    // budget (data-dependent but deterministic).
    timeShuffle("bfs 10M edges, 4 hops, 1k seeds") {
      val seeds = spark.range(0, 1000000L, 1000L).toDF("v")
      graft.ops.Bfs.hopDistance(prEdges, "src", "dst", seeds, 4)
        .filter(col("dist").isNotNull).count()
    }

    // X97: k-core peeling on the same graph (mean simple-degree ≈ 20):
    // k=21 forces a real multi-round cascade. Per round: two
    // semi-joins + one keyed degree aggregate + an anti-join, all
    // fixed-width; survivors checkpointed. Returned value = nodes
    // peeled within 6 rounds.
    timeShuffle("kcore 10M edges, k=21, 6 rounds") {
      graft.ops.KCore.onionLayers(prEdges, "src", "dst", 21, 6)
        .filter(col("layer").isNotNull).count()
    }

    // r11 #2 convergence short-circuit: on a PRE-converged graph
    // (k=2 on a graph whose every node sits in a cycle — nothing ever
    // peels) the empty-delta exit stops after ONE executed round of a
    // 10-round budget; LPA likewise stops at its fixpoint. Returned
    // value = rounds actually executed (the wasted-superstep count a
    // fixed-budget loop would have paid is 10 and 10).
    timeShuffle("kcore 10M edges CONVERGED, 10-round budget") {
      var rounds = 0
      // 2-regular union of 1M disjoint-ish cycles via (i, i+1M mod 2M)
      val cyc = spark.range(0, 2000000L, 1, 32).select(
        col("id").as("src"), ((col("id") + 1) % 2000000L).as("dst"))
      graft.ops.KCore.onionLayers(cyc, "src", "dst", 2, 10,
          onRound = _ => rounds += 1)
        .filter(col("layer").isNotNull).count()
      rounds
    }
    timeShuffle("lpa 10M edges, 8-round budget, fixpoint exit") {
      var rounds = 0
      graft.ops.Communities.labelPropagation(prEdges, "src", "dst", 8,
          onRound = _ => rounds += 1)
        .agg(countDistinct(col("community"))).collect().head.getLong(0)
      rounds
    }

    // X81: containment dedup SCALE CURVE at 1M and 10M docs (~58
    // tokens each; 1M ≈ 56M (shingle, doc) index rows, 10M ≈ 560M)
    // with 2% planted quote docs (prefix halves of their base doc —
    // containment exactly 1.0). Tokens are hash-derived over a space
    // ∝ docs (real corpora grow vocabulary with size — a FIXED space
    // would inflate per-shingle doc frequency 10x and square the
    // index join on pure hash aliasing, measuring collisions, not the
    // operator), so the planted quotes are the ONLY ≥τ pairs. Only
    // (60-bit key, id) longs shuffle; the doc-frequency prune bounds
    // hot-key blowup. Returned value = pairs found at τ=0.8 — must be
    // EXACTLY the n/50 planted quote→base pairs; the 10M/1M wall
    // ratio must sit near 10, not 100 (VERDICT r14 #4 — this operator
    // is new to the bench top-5, the winnow-pairs probe discipline).
    Seq(1000000L, 10000000L).foreach { n =>
      timeShuffle(s"containment dedup ${n / 1000000}M docs, 2% quotes") {
        def tok(i: Int) = concat(lit("ct"),
          pmod(xxhash64(col("id") * 64 + i), lit(n * 100L))
            .cast("string"))
        val base = spark.range(0, n, 1, 64).select(col("id"),
          concat_ws(" ", (0 until 58).map(tok): _*).as("text"))
        val quotes = spark.range(0, n, 50, 64).select(
          (col("id") + 10L * n).as("qid"), col("id"))
          .select(col("qid"),
            concat_ws(" ", (0 until 29).map(tok): _*).as("text"))
          .select(col("qid").as("id"), col("text"))
        graft.ops.Dedup.containmentPairs(base.unionAll(quotes),
            "id", "text", shingleK = 3, threshold = 0.8,
            maxDocFreq = 100L)
          .count()
      }
    }

    // X83: bitext mining at 1M × 64-dim — the plane count is the
    // bucket-granularity knob: 16 planes → 65k buckets → ~15 docs a
    // side per bucket, so the candidate join stays near-linear (3
    // planes is the FIXTURE granularity, not the scale setting).
    // Returned value = mined pairs at margin > 1.05.
    timeShuffle("bitext mine 1M x 64-dim, 16 planes") {
      import org.apache.spark.sql.expressions.Window
      // components CENTERED on 0: all-positive vectors would collapse
      // the sign buckets into a handful of huge cells (caught at
      // birth: the skewed join OOM'd) — the probe models real
      // embeddings, which are mean-centered
      val vecs = spark.range(0, 1000000L, 1, 64).select(col("id"),
        transform(sequence(lit(0), lit(63)), i =>
          (pmod(xxhash64(col("id") * 64 + i), lit(1000)).cast("float")
            / 1000.0f) - 0.5f).as("embedding"))
      def bucketOf(v: org.apache.spark.sql.Column) = element_at(
        graft.functions.HashFunctions.hyperplaneBuckets(v, 16, 1, 42L), 1)
      val sig = vecs.select(col("id"), col("embedding"),
        graft.ops.Similarity.norm(col("embedding")).as("nrm"),
        bucketOf(col("embedding")).as("bucket"))
      val aSide = sig.filter(col("id") % 2 === 0).select(
        col("id").as("qa"), col("embedding").as("va"),
        col("nrm").as("na"), col("bucket"))
      val bSide = sig.filter(col("id") % 2 === 1).select(
        col("id").as("yb"), col("embedding").as("vb"),
        col("nrm").as("nb"), col("bucket"))
      val pairs = aSide.join(bSide, "bucket")
        .withColumn("cosine", graft.ops.Similarity.cosineWithNorms(
          col("va"), col("vb"), col("na"), col("nb")))
        .select("qa", "yb", "cosine")
      val wf = Window.partitionBy("qa")
        .orderBy(col("cosine").desc, col("yb"))
      val wr = Window.partitionBy("yb")
        .orderBy(col("cosine").desc, col("qa"))
      val f = pairs.withColumn("rn", row_number().over(wf))
      val favg = f.filter(col("rn") <= 4).groupBy("qa")
        .agg(avg("cosine").as("favg"))
      val ravg = pairs.withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 4).groupBy("yb")
        .agg(avg("cosine").as("ravg"))
      f.filter(col("rn") === 1).join(favg, "qa").join(ravg, "yb")
        .filter(col("cosine") / ((col("favg") + col("ravg")) / 2.0)
          > 1.05)
        .count()
    }

    // X69b: HyperBall harmonic centrality on the SAME 10M-edge / 1M-node
    // graph — the probe that evidences the scaladoc's V·k-state claim:
    // per-round state is 1M × 16 longs (~128 MB) REGARDLESS of ball
    // sizes (exact X69 pair state would be ~|V|·ball ≈ 10⁹⁺ rows here);
    // each round shuffles exploded (v, hv) pairs + the bounded sketch
    // re-aggregation, nothing text-sized. Returned value = Σ ĥ rounded
    // (deterministic estimator, so the figure is reproducible).
    timeShuffle("hyperball 10M edges, r=4, k=16") {
      graft.ops.Centrality.harmonicHyperball(prEdges, "src", "dst",
          radius = 4, k = 16)
        .agg(sum("harmonic_est")).collect().head.getDouble(0).round
    }

    // X71: the composed crawl chain (q_crawl_pipeline's shape) at 500k
    // REAL gzip-WARC members — warc.gz member walk → HTML strip →
    // lang-ID gate → exact dedup (fixed-width fingerprint pairs only)
    // → quality filter → 64-shard manifest, one linear plan. ~2%
    // planted duplicate pages must collapse (2 fingerprint groups —
    // the dressing differs by id%4); the en-marker prefix keeps the
    // lang gate honest. Returned value = surviving docs.
    timeShuffle("crawl chain 500k warc.gz docs") {
      import graft.ops.Warc
      val cBody = when(col("id") % 50 === 0,
        lit("this page is a duplicated boilerplate crawl artifact that "
          + "appears many times across the web and should collapse"))
        .otherwise(concat_ws(" ",
          Seq(lit("the value of the data in this row is")) ++
            (0 until 40).map(i =>
              concat(lit("w"), (col("id") * 41 + i).cast("string"))): _*))
      val cHtml = when(col("id") % 4 === 0,
          concat(lit("<html><head><style>p { color: red; }</style>"
            + "</head><body><p>"), cBody,
            lit("</p><script>var x = 1 < 2;</script></body></html>")))
        .when(col("id") % 4 === 1,
          concat(lit("Tom &amp; Jerry &lt;3 "), cBody, lit(" <br/>")))
        .when(col("id") % 4 === 2,
          concat(lit("<a href=\"http://x.y\">"), cBody,
            lit("</a> &nbsp;&quot;quoted&quot;")))
        .otherwise(cBody)
      val fetched = spark.range(0, 500000L, 1, 64)
        .select(col("id"), cHtml.as("html")).as[(Long, String)]
        .map { case (id, h) =>
          Warc.gzipMember(Warc.recordBytes("response",
            s"http://c.local/doc/$id", h.getBytes("UTF-8")))
        }
        .flatMap { b =>
          Warc.parseGz(b).map { r =>
            (r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong,
              new String(r.payload, "UTF-8"))
          }
        }
        .toDF("doc_id", "html")
      val cleanDocs = fetched.select(col("doc_id"),
        graft.functions.HtmlFunctions.stripHtml(col("html")).as("clean"))
        .filter(graft.functions.Text.langId(col("clean")) =!= "und")
        .withColumn("h", graft.functions.Text.fingerprintMd5(col("clean")))
      val cWinners = cleanDocs.select(col("h"), col("doc_id"))
        .groupBy("h").agg(min("doc_id").as("doc_id"))
      val cToks = graft.functions.Text.tokens(col("clean"))
      val kept = cleanDocs.join(cWinners, Seq("h", "doc_id"), "left_semi")
        .filter(size(cToks) >= 15 && size(cToks) <= 100000)
        .select(col("doc_id"), size(cToks).cast("long").as("n_tokens"))
      graft.ops.Shard.assign(kept, "doc_id", 64)
        .groupBy("shard").agg(count(lit(1)).as("n_docs"))
        .agg(sum("n_docs")).collect().head.getLong(0)
    }

    // X6: the q_dedup_clusters DISTRIBUTED label-propagation branch,
    // forced (localThreshold=0 bypasses the driver union-find that
    // handles real-world edge volumes) on 10M chain edges over 10.1M
    // nodes — 100k components of diameter 100, the shape pointer
    // jumping exists for (⌈log₂ 100⌉ = 7 rounds). Returned value =
    // distinct canonical ids; exactly 100000 iff clustering is right.
    timeShuffle("ccdist label-prop, 10M pairs") {
      val n = 10100000L
      val ccIds = spark.range(0, n, 1, 64).select(col("id"))
      val ccPairs = spark.range(0, n, 1, 64)
        .filter(col("id") % 101 =!= 100)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      Dedup.clusterKeepMin(ccIds, "id", ccPairs, iters = 8,
          localThreshold = 0L)
        .agg(countDistinct("canonical_id")).collect().head.getLong(0)
    }

    // X113/X117: round-11 two-pass prefix devices on a 10M-row TOTAL
    // order — the shape a partition-less window would funnel through
    // one task; the bucketed form must hold its parallelism
    time("runningTotalsAsc 10M rows x 2 cols") {
      val vals = spark.range(0, 10000000L, 1, 64).select(
        col("id").as("v"), (col("id") % 3).as("na"),
        (col("id") % 5).as("nb"))
      graft.ops.PrefixSum.runningTotalsAsc(vals, Seq("na", "nb"), "v",
          Seq("ca", "cb"))
        .agg(max("ca"), max("cb")).collect().head.getLong(0)
    }
    time("runningMaxAsc 10M rows") {
      val vals = spark.range(0, 10000000L, 1, 64).select(
        col("id").as("arrival"),
        pmod(xxhash64(col("id")), lit(1000000000L)).as("us"))
      graft.ops.PrefixSum.runningMaxAsc(vals, "us", "arrival", "mx")
        .agg(max("mx")).collect().head.getLong(0)
    }
    // X111: Gini over 10M members / 5 groups — members must collapse
    // to the ≤1000 distinct activity levels BEFORE any window touches
    // them (the op's whole scale claim)
    time("giniByGroup 10M members, 5 groups") {
      val m = spark.range(0, 10000000L, 1, 64).select(
        (col("id") % 5).cast("string").as("g"),
        (pmod(xxhash64(col("id")), lit(1000)) + 1).as("x"))
      graft.ops.Concentration.giniByGroup(m, "g", "x").count()
    }

    // ---- round-12 operator probes ----

    // X147 winnowing at 1M docs (~60 tokens): the one-pass deque
    // kernel (the HOF form measured 22 s at 5k sf0.1 docs — this is
    // 200x the doc count). Returned value = total fingerprints;
    // density ≈ 2/(w+1) of grams sanity-checks the selection.
    timeShuffle("winnow fingerprints 1M docs, k=3 w=8") {
      graft.ops.Winnow.fingerprints(docs, "id", "text", 3, 8).count()
    }

    // X168 winnow-PAIRS scale curve (VERDICT r12 #7): same corpus
    // shape at 1M and 10M docs — each doc's 60 tokens are the
    // consecutive integers [7·id, 7·id+59], so every 3-gram key lives
    // on ≤9 neighboring docs (under the cap) and each doc overlaps a
    // BOUNDED neighborhood: the scale-honest shape where pair volume
    // must grow ∝ docs, fingerprints ∝ docs × 2/(w+1) of grams.
    // Returned value = (fingerprints, pairs); the 10M/1M ratios of
    // both counts and time must sit near 10, not 100.
    Seq(1000000L, 10000000L).foreach { n =>
      timeShuffle(s"winnow pairs ${n / 1000000}M docs, k=3 w=8 cap=100") {
        val dd = spark.range(0, n, 1, 64).select(col("id"),
          concat_ws(" ", (0 until 60).map(i =>
            concat(lit("tok"), (col("id") * 7 + i).cast("string"))): _*)
            .as("text"))
        val nFp = graft.ops.Winnow.fingerprints(dd, "id", "text", 3, 8)
          .count()
        val nPairs = graft.ops.Winnow.sharedFingerprintPairs(
          dd, "id", "text", 3, 8, keyCap = 100).count()
        (nFp, nPairs)
      }
    }

    // X152 negative sampling at 10M positives / 1M users / 1M items:
    // probes are a fixed 6-way fan-out, rejection one anti-join,
    // ranks a <=6-row-per-user window. Returned value = rows emitted
    // (3 per user with negatives available).
    timeShuffle("negative sampling 1M users x 10M positives") {
      val pos = spark.range(0, 10000000L, 1, 64).select(
        (col("id") % 1000000L).as("u"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("i"))
      graft.ops.NegativeSampling.perUser(pos, "u", "i",
        nItems = 1000000L, k = 3).count()
    }

    // X162 sorted neighborhood at 2M distinct names, w=3: rank via
    // the bucketed two-pass device, pairs via rank-bucketization —
    // pair volume must be ~2M*3 (the method's own budget), never
    // same-key quadratic. Returned value = candidate pairs.
    timeShuffle("sorted neighborhood 2M names, w=3") {
      val names = spark.range(0, 2000000L, 1, 64).select(
        concat(lit("name"), lpad(pmod(xxhash64(col("id")),
          lit(10000000L)).cast("string"), 8, "0")).as("n"))
      graft.ops.SortedNeighborhood.pairs(names, "n", w = 3).count()
    }

    // X148 count-min at 50M draws / 1M keys: the d=4 x 256 matrix is
    // one keyed aggregate over a fixed 4-way fan-out — state is 1024
    // cells regardless of stream size. Returned value = matrix mass
    // (must equal 4 x 50M).
    timeShuffle("count-min sketch 50M draws") {
      val ev = spark.range(0, 50000000L, 1, 64).select(
        pmod(xxhash64(col("id")), lit(1000000L)).cast("string").as("u"))
      val cells = ev.select(explode(array((0 until 4).map(j =>
          struct(lit(j).as("j"),
            (pmod(xxhash64(concat(lit(s"cms$j:"), col("u"))),
              lit(256L))).as("cell"))): _*)).as("x"))
        .groupBy(col("x.j"), col("x.cell"))
        .agg(count(lit(1)).as("c"))
      cells.agg(sum("c")).collect().head.getLong(0)
    }

    // ---- sf1 full-query scale probe (VERDICT r11 #7) ----
    // `sbt "runMain graft.tools.Stress sf1"`: synthesizes a 10×-sf0.1
    // directory (disjoint key/shingle spaces per copy — each copy is
    // an isomorphic corpus, so pair-emitting dedup outputs scale ~10×,
    // not quadratically in planted cross-copy duplicates), then runs
    // the 10 heaviest bench queries at sf0.1 and sf1 and prints the
    // time ratio. The 100× question the brief asks, answered one
    // decade at a time: a ≲12× ratio at 10× data is the linear-ish
    // scaling the plans claim; anything super-linear gets a plan note.
    val sf01 = "/root/testdata/sf0.1"
    // synthesize (once) and return the 10×-sf0.1 directory — shared by
    // the full probe below and the focused als-retime probe
    def ensureSf1(): String = {
      val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
      val copies = 10
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(sf1))) {
        println(s"[sf1] synthesizing $copies x $sf01 -> $sf1")
        def shiftUnit(df: org.apache.spark.sql.DataFrame,
            key: String): Long =
          df.agg(max(col(key))).head().getLong(0) + 1L
        val orders0 = spark.read.parquet(s"$sf01/orders.parquet")
        val cust0 = spark.read.parquet(s"$sf01/customer.parquet")
        val part0 = spark.read.parquet(s"$sf01/part.parquet")
        val supp0 = spark.read.parquet(s"$sf01/supplier.parquet")
        val (uOrd, uCust) =
          (shiftUnit(orders0, "o_orderkey"), shiftUnit(cust0, "c_custkey"))
        val (uPart, uSupp) =
          (shiftUnit(part0, "p_partkey"), shiftUnit(supp0, "s_suppkey"))
        // key shifts per copy keep every FK relationship intact inside
        // a copy and disjoint across copies
        def replicate(table: String, shifts: Map[String, Long],
            transformCopy: (org.apache.spark.sql.DataFrame, Int) =>
              org.apache.spark.sql.DataFrame = (d, _) => d): Unit = {
          val base = spark.read.parquet(s"$sf01/$table.parquet")
          val out = (0 until copies).map { c =>
            val shifted = shifts.foldLeft(base) { case (d, (k, u)) =>
              d.withColumn(k, col(k) + lit(u * c)) }
            transformCopy(shifted, c)
          }.reduce(_.unionAll(_))
          out.write.mode("overwrite").parquet(s"$sf1/$table.parquet")
        }
        replicate("region", Map.empty)
        replicate("nation", Map.empty)
        replicate("customer", Map("c_custkey" -> uCust))
        replicate("supplier", Map("s_suppkey" -> uSupp))
        replicate("part", Map("p_partkey" -> uPart))
        replicate("orders",
          Map("o_orderkey" -> uOrd, "o_custkey" -> uCust))
        replicate("lineitem", Map("l_orderkey" -> uOrd,
          "l_partkey" -> uPart, "l_suppkey" -> uSupp))
        val ev0 = spark.read.parquet(s"$sf01/events.parquet")
        replicate("events", Map(
          "event_id" -> shiftUnit(ev0, "event_id"),
          "user_id" -> shiftUnit(ev0, "user_id")))
        val docs0 = spark.read.parquet(s"$sf01/documents.parquet")
        // per-copy Caesar rotation of letters+digits: BYTE-PRESERVING
        // disjointness (r13 — the earlier token-suffix scheme inflated
        // text bytes 1.49x, so byte-bound queries read ~15x at 10x
        // rows and the scale curve overstated). Rotated tokens are
        // gibberish, so a cross-copy shingle (3 consecutive token
        // collisions) is essentially impossible, while lengths,
        // whitespace, n_chars and the within-copy near-dup structure
        // are preserved EXACTLY.
        val alpha = "abcdefghijklmnopqrstuvwxyz"
        val digit = "0123456789"
        replicate("documents",
          Map("doc_id" -> shiftUnit(docs0, "doc_id")),
          transformCopy = (d, c) =>
            if (c == 0) d
            else d.withColumn("text", translate(col("text"),
              alpha + digit,
              alpha.drop(c % 26) + alpha.take(c % 26) +
                digit.drop(c % 10) + digit.take(c % 10))))
        replicate("embeddings", Map("vec_id" ->
          shiftUnit(spark.read.parquet(s"$sf01/embeddings.parquet"),
            "vec_id")))
      }
      sf1
    }

    if (enabled("sf1-scale-probe")) {
      val sf1 = ensureSf1()
      // the CURRENT top-10 heaviest from bench_full.json (VERDICT r14
      // #2 — the probe set must track the FINAL committed bench;
      // refreshed r16 to the median3 baseline's top rows: the round's
      // new entrants q_knn_descent / q_knn_graph_search / q_kfold_cv /
      // q_stream_incremental_dedup / q_ann_index_delta /
      // q_setjoin_prefix had no measured 10x ratio — the descent's
      // per-round candidate volume and the CV's 5 fits are exactly
      // the shapes that could go super-linear unnoticed), plus q_als
      // (r15-verdict watch row, continuity with the als-retime probe)
      // and q_rank_fusion / q_coverage_select (r15 probe continuity).
      // Known-quadratic-by-contract inside the probe: q_knn_graph_
      // search's exact-graph SCAFFOLD is a declared n² ground-truth
      // lane (the scale path builds the graph with X303); its ratio
      // reads the scaffold, not the search — the search's own cost is
      // the corpus-size-independent candidate set.
      // r17 entrants: the persisted-graph rows (the BUILD pays the
      // near-linear descent+prune; the QUERY must read corpus-size-
      // independent — the verdict gate is query ratio < 2), the two
      // new tokenizers (one kernel scan + bounded aggregates each),
      // compaction and streaming ingest (one codes rewrite / two
      // delta encodes). Probe order puts the graph BUILD before the
      // graph QUERY so the query lane reads committed artifacts, the
      // same order bench and verify see.
      // r17-late entrants (ADVICE r17): the beam operating curve and
      // the graph delta-ingest — the two HEAVIEST committed bench
      // rows — plus the four-family comparison and the pruned-vocab
      // unigram encode; build stays ahead of query/curve so serve
      // lanes read committed artifacts, delta owns its own dir.
      // r19 entrants: the rewired streaming dedup (its per-batch probe
      // is now an index ingest — the verdict gate is sf1 ratio < 2),
      // the dedup-index compaction lifecycle, filtered serving and
      // the layered walk (both serve-only — must read corpus-size-
      // independent); q_ann_filtered / q_ann_graph_layered sit after
      // the graph build so their serve lanes read committed artifacts.
      val heavy = Seq("q_ann_recall_curve", "q_knn_graph_search",
        "q_kfold_cv", "q_knn_descent", "q_learning_curve",
        "q_stream_incremental_dedup", "q_setjoin_prefix",
        "q_scaling_probe", "q_ann_index_delta", "q_rank_rbo",
        "q_als", "q_rank_fusion", "q_coverage_select",
        "q_ann_graph_index_build", "q_ann_graph_index_query",
        "q_ann_beam_curve", "q_ann_graph_multi_entry",
        "q_ann_filtered", "q_ann_graph_layered",
        "q_ann_graph_index_delta",
        "q_wordpiece_encode", "q_unigram_tokenizer",
        "q_tokenizer_compare", "q_unigram_encode",
        "q_ann_index_compact", "q_stream_ann_ingest",
        "q_dedup_index_compact")
      def best2(name: String, dir: String): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        math.min(once(), once())
      }
      // warmup
      graft.SparkEntry.queries("q1_agg")(spark, sf01)
        .write.format("noop").mode("overwrite").save()
      println(f"${"query"}%-22s ${"sf0.1"}%8s ${"sf1"}%8s ${"ratio"}%7s")
      heavy.foreach { q =>
        val a = best2(q, sf01)
        val b = best2(q, sf1)
        println(f"$q%-22s $a%8.2f $b%8.2f ${b / a}%7.2f")
      }
    }

    // ---- small-delta graph-index lane (VERDICT r18 #4) ----
    // `sbt "runMain graft.tools.Stress small-delta"`: the committed
    // sf1 table's only graph-delta lane ingests 50% of the corpus, so
    // its ratio (3.16 in r18) is floored by the embedded build — the
    // O(touched) machinery cannot shrink a half-corpus delta. This
    // lane separates the claim: BUILD on the first 95% (timed, but
    // not the claim), then INGEST the 5% tail — publish I/O and
    // warm-round shuffles are bounded by delta-touched neighborhoods,
    // so the ingest's sf0.1→sf1 ratio should sit near the serve rows
    // (~1.5–2), not the build's. Run at both scales, solo.
    if (enabled("small-delta")) {
      val sf1 = ensureSf1()
      def lane(d: String): (Long, Double, Double) = {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-smalldelta").toString + "/idx"
        val e = spark.read.parquet(s"$d/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("v"),
            graft.ops.Similarity.norm(col("embedding")).as("nrm"))
          .localCheckpoint(true)
        val n = e.count()
        val cut = n - n / 20 // 95% base, 5% delta
        val t0 = System.nanoTime()
        graft.ops.AnnGraph.build(e.filter(col("id") < cut), dir)
        val buildS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.ops.AnnGraph.ingest(e, col("id") >= cut, dir)
        val ingestS = (System.nanoTime() - t1) / 1e9
        (n - cut, buildS, ingestS)
      }
      // warmup
      graft.SparkEntry.queries("q1_agg")(spark, sf01)
        .write.format("noop").mode("overwrite").save()
      val (d01, b01, i01) = lane(sf01)
      val (d1, b1, i1) = lane(sf1)
      println(f"${"lane"}%-12s ${"sf0.1"}%8s ${"sf1"}%8s ${"ratio"}%7s")
      println(f"${"build95"}%-12s $b01%8.2f $b1%8.2f ${b1 / b01}%7.2f")
      println(f"${"ingest5"}%-12s $i01%8.2f $i1%8.2f ${i1 / i01}%7.2f")
      println(s"[small-delta] delta rows: sf0.1=$d01 sf1=$d1")
    }

    // ---- focused q_als 10× retime (VERDICT r15 #2) ----
    // `sbt "runMain graft.tools.Stress als-retime"`: the r15 sf1 table
    // read q_als at 8.99× on a contended lane (sf0.1 ran 1.6× faster
    // and sf1 1.5× slower than r13's probe of identical code). This
    // probe times ONLY the q_als pair, solo on the box, best-of-3 per
    // lane, and prints all raw attempts so lane luck is visible.
    if (enabled("als-retime")) {
      val sf1 = ensureSf1()
      def runs(name: String, dir: String, n: Int): Seq[Double] =
        (1 to n).map { _ =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      graft.SparkEntry.queries("q1_agg")(spark, sf01)
        .write.format("noop").mode("overwrite").save() // warmup
      val a = runs("q_als", sf01, 3)
      val b = runs("q_als", sf1, 3)
      println(f"[als-retime] sf0.1 attempts: ${a.map(x => f"$x%.2f").mkString(", ")}")
      println(f"[als-retime] sf1   attempts: ${b.map(x => f"$x%.2f").mkString(", ")}")
      println(f"[als-retime] best ratio: ${b.min / a.min}%.2f " +
        f"(${a.min}%.2f s -> ${b.min}%.2f s)")
    }

    spark.stop()
  }

  private def dictPath(name: String): String =
    graft.queries.Fixtures.path(name)
}
