package graft.ops

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class ShardSpec extends SparkSuite {

  test("shard assignment is content-keyed and partitioning-independent") {
    val docs = Tables.documents(spark, Sf0001)
    def asg(df: org.apache.spark.sql.DataFrame) =
      Shard.assign(df, "doc_id", 16)
        .select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = asg(docs)
    val b = asg(docs.repartition(13))
    assert(a === b)
    assert(a.values.toSet.subsetOf((0L until 16L).toSet))
    // every shard populated and no gross skew at 500 docs / 16 shards
    val sizes = a.groupBy(_._2).view.mapValues(_.size)
    assert(sizes.size === 16)
    assert(sizes.values.max <= 4 * sizes.values.min,
      s"shard skew: $sizes")
  }

  test("writeSharded: directories partition the corpus exactly") {
    val docs = Tables.documents(spark, Sf0001)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shards").toString
    try {
      Shard.writeSharded(docs, "doc_id", 8, dir)
      val back = spark.read.parquet(dir)
        .withColumn("file", input_file_name())
      // shard column survives the partitioned write and matches the
      // content formula
      val expected = Shard.assign(docs, "doc_id", 8)
        .select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = back.select(col("doc_id"),
          col("shard").cast("long"), col("file")).collect()
      assert(got.length === expected.size)
      got.foreach { r =>
        assert(r.getLong(1) === expected(r.getLong(0)))
        // file path encodes exactly the row's shard (directory purity)
        assert(r.getString(2).contains(s"shard=${r.getLong(1)}"))
      }
      // intra-shard order: each file's rows appear sorted by the
      // reproducible shuffle key (parquet preserves write order)
      val orderKeys = Shard.orderKey(col("doc_id"), "ord:")
      val byFile = back
        .select(col("file"), col("doc_id"),
          monotonically_increasing_id().as("pos"), orderKeys.as("ok"))
        .collect().groupBy(_.getString(0))
      byFile.values.foreach { rows =>
        val inOrder = rows.sortBy(_.getLong(2)).map(_.getString(3)).toSeq
        assert(inOrder === inOrder.sorted, "intra-shard order broken")
      }
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("writeShardedAtomic: manifest round-trip, torn writes invisible") {
    val docs = Tables.documents(spark, Sf0001)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-manifest").toString
    try {
      val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
      Shard.writeShardedAtomic(oldDocs, "doc_id", 8, dir, commitId = "c0")
      def readIds() = Shard.readViaManifest(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expectedOld = oldDocs.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(readIds() === expectedOld)
      // shard partition column is recovered through basePath and
      // matches the content formula
      val asg = Shard.assign(oldDocs, "doc_id", 8)
        .select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Shard.readViaManifest(spark, dir)
        .select(col("doc_id"), col("shard").cast("long")).collect()
        .foreach(r => assert(r.getLong(1) === asg(r.getLong(0))))

      // SIMULATED TORN WRITE #1: a second commit's data files land
      // under data/c1 but the writer crashes BEFORE the manifest swap
      // — readers must not see a single row of it
      val torn = new java.io.File(s"$dir/data/c1/shard=0")
      assert(torn.mkdirs())
      docs.filter(col("doc_id") % 10 === 7).limit(5)
        .write.mode("overwrite").parquet(s"$dir/data/c1/shard=0/junk")
      // SIMULATED TORN WRITE #2: an in-flight temp manifest exists
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/.manifest.json.c1.tmp"),
        """{"commit":"c1","n_shards":8,"files":[{"path":"data/c1/shard=0/junk","shard":0}]}""")
      assert(readIds() === expectedOld,
        "partial write leaked into the manifest reader")

      // a COMPLETED second commit swaps atomically: readers now see
      // exactly c1's rows, c0's files still on disk but invisible
      Shard.writeShardedAtomic(docs, "doc_id", 8, dir, commitId = "c2")
      val expectedAll = docs.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(readIds() === expectedAll)
      assert(new java.io.File(s"$dir/data/c0").exists(),
        "old commit files should remain for time-travel/GC")
      val (commit, entries) = Shard.readTablesManifest(spark, dir)
      assert(commit === "c2")
      assert(entries.forall(_._2.startsWith("data/c2/")))

      // COMMIT-ID REUSE is refused (ADVICE r15): overwriting data/c2
      // would delete files manifest.json still references — the torn
      // half-table the protocol documents as impossible
      val ex = intercept[IllegalArgumentException] {
        Shard.writeShardedAtomic(docs, "doc_id", 8, dir, commitId = "c2")
      }
      assert(ex.getMessage.contains("single-use"))
      assert(readIds() === expectedAll, "refused commit must not disturb")
      // newCommitId is unique per invocation; GC drops superseded and
      // abandoned prefixes but never the live commit
      val c3 = Shard.newCommitId()
      assert(c3 !== Shard.newCommitId())
      Shard.writeShardedAtomic(oldDocs, "doc_id", 8, dir, commitId = c3)
      Shard.gcOldCommits(spark, dir)
      val dataDirs = new java.io.File(s"$dir/data").listFiles().map(_.getName)
      assert(dataDirs.toSet === Set(c3), s"GC left: ${dataDirs.toSeq}")
      assert(readIds() === expectedOld)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("writeShardedAtomic: one table 'shards' in the multi-table " +
      "manifest, naming exactly the commit's parquet files") {
    val docs = Tables.documents(spark, Sf0001)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-manifest-shards").toString
    try {
      Shard.writeShardedAtomic(docs, "doc_id", 8, dir, commitId = "s0")
      val onDisk = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(s"$dir/data/s0"), Array("parquet"), true)
        .asScala.toSeq
        .map(f => f.getPath.stripPrefix(s"$dir/") -> f.length()).sorted
      assert(onDisk.nonEmpty)
      assert(onDisk.forall(_._1.startsWith("data/s0/shards/shard=")))
      val (commit, entries) = Shard.readTablesManifest(spark, dir)
      assert(commit === "s0")
      assert(entries === onDisk.map(f => "shards" -> f._1))
      assert(Shard.hasCommittedTables(spark, dir, Seq("shards")))
      assert(!Shard.hasCommittedTables(spark, dir, Seq("shards", "docs")))
      // the multi-table format, compact, fields in writer order
      val text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/manifest.json"))
      assert(text === onDisk.map { case (p, len) =>
        s"""{"table":"shards","path":"$p","bytes":$len}"""
      }.mkString("""{"commit":"s0","tables":["shards"],"files":[""", ",",
        "]}"))
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("epochShuffle: exact global permutation, one keyed shuffle, " +
      "no partition-less window") {
    val docs = Tables.documents(spark, Sf0001)
    val out = Shard.epochShuffle(docs, "doc_id", epoch = 0)
    val rows = out.select("doc_id", "skey", "shard", "pos_in_shard",
      "global_pos").collect()
    val n = rows.length
    // global_pos is a permutation of 1..n
    assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to n).toSeq)
    // and it ranks exactly by (skey, doc_id) — the seeded global order
    val bySkey = rows.sortBy(r => (r.getString(1), r.getLong(0)))
    assert(bySkey.map(_.getLong(4)).toSeq === (1L to n).toSeq,
      "global_pos disagrees with (skey, doc_id) order")
    // shard is the order-preserving range bucket: first hex digit
    rows.foreach { r =>
      assert(r.getInt(2) ===
        java.lang.Integer.parseInt(r.getString(1).take(1), 16))
    }
    // plan shape (VERDICT r13 #3 pin): the permutation is ONE
    // shard-keyed exchange — no partition-less WindowExec, no range
    // sort of the corpus on the driver, no extra shuffles
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = out.queryExecution.sparkPlan
    val windows = sp.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "partition-less window in epochShuffle"))
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val nShuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(nShuffles === 1,
      s"expected 1 shuffle (shard-keyed window), got $nShuffles:\n$p")
    // determinism: partitioning of the input must not change anything
    val again = Shard.epochShuffle(docs.repartition(13), "doc_id", 0)
      .select("doc_id", "global_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) === r.getLong(4)))
  }
}
