package graft.ops

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic output sharding — the last stage of a training-data
  * build: split the kept corpus into N fixed shards whose membership
  * depends only on row content, never on partitioning or cluster
  * shape, so a re-run (or a second engine) produces byte-identical
  * shard membership and a training job can resume mid-corpus.
  *
  * Shard id is a portable md5 bucket of the key (same device as
  * [[Sampling]]); within a shard, rows are ordered by a SECOND
  * independent hash — the standard "global shuffle" for training
  * consumption, reproducible because it is a sort, not a sample.
  *
  * Scale contract: assignment is a per-row expression (no shuffle);
  * the write repartitions BY the shard column (one shuffle on a
  * fixed-cardinality key) so each task owns whole shards and the
  * output is exactly N directory partitions.
  */
object Shard {

  /** Content-keyed shard id in [0, n). */
  def shardId(key: Column, n: Int, salt: String): Column =
    Sampling.hashBucket(key, salt) % n

  /** Portable intra-shard ordering key (independent salt). */
  def orderKey(key: Column, salt: String): Column =
    md5(concat(lit(salt), key.cast("string")))

  def assign(df: DataFrame, keyCol: String, n: Int,
      salt: String = "shard:"): DataFrame =
    df.withColumn("shard", shardId(col(keyCol), n, salt))

  /** Write `df` as N shard directories (`shard=K/`), each internally
    * ordered by the reproducible shuffle key. The within-partition
    * sort leads with `shard` so the partitioned writer's required
    * ordering is already satisfied — otherwise it inserts its own
    * sort on the partition column alone and destroys the intra-shard
    * order. */
  def writeSharded(df: DataFrame, keyCol: String, n: Int, dir: String,
      salt: String = "shard:", orderSalt: String = "ord:"): Unit =
    shardOrdered(df, keyCol, n, salt, orderSalt)
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  private def shardOrdered(df: DataFrame, keyCol: String, n: Int,
      salt: String, orderSalt: String): DataFrame =
    assign(df, keyCol, n, salt)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), orderKey(col(keyCol), orderSalt))

  /** Atomic manifest-committed variant of [[writeSharded]] (X293): the
    * same shard-ordered frame committed as the one table `shards`,
    * partitioned by `shard`, through [[writeTablesAtomic]]. Files land
    * under `dir/data/<commitId>/shards/shard=K/`; [[readViaManifest]]
    * reads them back with that table dir as parquet basePath, so the
    * `shard` column is recovered. Protocol, single-use commit ids and
    * invisibility of torn writes are [[publish]]'s. */
  def writeShardedAtomic(df: DataFrame, keyCol: String, n: Int,
      dir: String, commitId: String, salt: String = "shard:",
      orderSalt: String = "ord:"): Unit =
    writeTablesAtomic(
      Seq("shards" -> shardOrdered(df, keyCol, n, salt, orderSalt)),
      dir, commitId, partitionBy = Map("shards" -> "shard"))

  private val commitCounter = new java.util.concurrent.atomic.AtomicLong()

  /** A process-unique, monotonic commit id — JVM pid + nanotime +
    * counter, so concurrent sessions sharing an output dir and
    * repeated invocations in one session (bench best-of-2) never
    * collide with an existing commit prefix. */
  def newCommitId(): String =
    s"c${ProcessHandle.current().pid()}-${System.nanoTime().toHexString}" +
      s"-${commitCounter.incrementAndGet()}"

  /** Delete commit prefixes under `dir/data/` that the CURRENT
    * committed manifest does not reference (abandoned or superseded
    * commits). Safe by the protocol's own invariant: readers resolve
    * exclusively through the manifest, and the manifest swap is
    * atomic, so any unreferenced prefix is invisible already. Keeping
    * old commits is the time-travel default; GC is the bounded-disk
    * opt-in a repeated writer (bench reruns) calls after its swap.
    *
    * Liveness is FILE-derived, not commit-field-derived: an
    * append-style manifest ([[appendTablesAtomic]]) references files
    * under SEVERAL commit prefixes (base + each delta segment), and
    * every one of them must survive GC — only prefixes no manifest
    * path points into are deleted. */
  def gcOldCommits(spark: SparkSession, dir: String): Unit = {
    val dataDir = new Path(s"$dir/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dataDir)) {
      val live = livePrefixes(spark, dir)
      fs.listStatus(dataDir)
        .filter(st => st.isDirectory && !live.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** Every `data/<prefix>/` the current committed manifest's file
    * paths point into — the GC keep-set (≥ 1 for a plain commit,
    * one per segment for an append chain). */
  def livePrefixes(spark: SparkSession, dir: String): Set[String] =
    committed(spark, dir).files
      .map(_.path.stripPrefix("data/").takeWhile(_ != '/')).toSet

  /** Read ONLY the `shards` files the committed manifest names (never
    * a directory listing — the atomicity contract lives here). The
    * commit's `shards` dir is the parquet basePath, so the `shard=K`
    * partition column is recovered. */
  def readViaManifest(spark: SparkSession, dir: String): DataFrame = {
    val (commit, paths) = tablePaths(spark, dir, "shards")
    spark.read.option("basePath", s"$dir/data/$commit/shards")
      .parquet(paths: _*)
  }

  /** Multi-table atomic commit (X299 — the two-table TRANSACTION a
    * curation pipeline needs when a corpus and its audit sidecar must
    * agree: documents + dedup verdicts, codes + codebooks, committed
    * by ONE manifest swap so readers see either BOTH new tables or
    * BOTH old ones, never a new corpus with stale verdicts). Every
    * table is written fresh under `dir/data/<commitId>/<table>/`;
    * `partitionBy` optionally lays a table out as Hive-style
    * `<col>=<v>/` dirs, the granularity [[replaceTablePartitionsAtomic]]
    * swaps at. The manifest stays file-granular either way; readers
    * resolve leaf files whose parent dir is their base path, so the
    * partition column is NOT re-inferred on read (it is derivable from
    * the data by the writer's contract). Refuses an empty or
    * duplicate table set. */
  def writeTablesAtomic(tables: Seq[(String, DataFrame)], dir: String,
      commitId: String, partitionBy: Map[String, String] = Map.empty)
      : Unit = {
    require(tables.nonEmpty, "writeTablesAtomic: no tables")
    require(tables.map(_._1).distinct.size == tables.size,
      "writeTablesAtomic: duplicate table names")
    val spark = tables.head._2.sparkSession
    val fs = openCommit(spark, dir, commitId)
    publish(spark, dir, commitId, tables.map(_._1),
      writeFiles(fs, dir, commitId, tables, partitionBy))
  }

  /** APPEND-commit (X317 — the segment discipline the table formats
    * use for ingest): write ONLY `newTables`' rows as fresh files
    * under `dir/data/<commitId>/`, and publish them PLUS every file of
    * the current manifest, carried by reference. The existing data —
    * however large — is never rewritten, which makes a 100 TB
    * delta-ingest O(delta), not O(corpus). Repeated appends accumulate
    * segment prefixes (all kept live by [[gcOldCommits]]'s
    * file-derived keep-set) until a compaction rewrites the table
    * under a single prefix.
    *
    * `rewriteTables` (X326 — the dedup index's mixed commit): small
    * state tables REWRITTEN in the same swap — their fresh files
    * replace every file the current manifest names for them, so
    * readers can never pair an appended segment with a stale state
    * table. Refuses an empty `newTables`, a table both appended and
    * rewritten, and a `dir` with no committed base. */
  def appendTablesAtomic(newTables: Seq[(String, DataFrame)],
      dir: String, commitId: String,
      rewriteTables: Seq[(String, DataFrame)] = Seq.empty): Unit = {
    require(newTables.nonEmpty, "appendTablesAtomic: no tables")
    require(newTables.map(_._1).intersect(rewriteTables.map(_._1)).isEmpty,
      "appendTablesAtomic: a table cannot both append and rewrite")
    val spark = newTables.head._2.sparkSession
    val fs = openCommit(spark, dir, commitId)
    val carried = committed(spark, dir).files
      .filterNot(f => rewriteTables.exists(_._1 == f.table))
    require(carried.nonEmpty, s"append against $dir: no committed base")
    val written = newTables ++ rewriteTables
    publish(spark, dir, commitId,
      (carried.map(_.table) ++ written.map(_._1)).distinct,
      carried ++ writeFiles(fs, dir, commitId, written, Map.empty))
  }

  /** PARTITION-REPLACE commit (X324 — the delta-publish discipline a
    * partitioned corpus-sized table needs when an update touches a
    * BOUNDED set of its partitions): write fresh files ONLY for the
    * replaced partitions under `dir/data/<commitId>/<table>/<part>/`,
    * carry every untouched partition's files from the current
    * manifest BY REFERENCE, fully rewrite the (small) `rewriteTables`,
    * and publish. Untouched data — however large — is never
    * rewritten, which makes a 100 TB index delta O(touched), not
    * O(corpus), in publish I/O (the X317 append twin, for in-place
    * list repair instead of pure append). The table must have been
    * committed with `partitionBy` so its manifest paths carry
    * `<col>=<v>/` components; `replacedParts` are those dir names
    * (e.g. "pt=3").
    *
    * Refusals: no committed base; a committed file of `table` with no
    * `partCol=` dir; and a written partition set other than exactly
    * `replacedParts` (`newRows` is written `partitionBy(partCol)`, and
    * a row outside `replacedParts` would otherwise commit a partition
    * dir the carry also kept). [[gcOldCommits]]' file-derived keep-set
    * keeps every carried prefix live. */
  def replaceTablePartitionsAtomic(dir: String, commitId: String,
      table: String, newRows: DataFrame, partCol: String,
      replacedParts: Set[String],
      rewriteTables: Seq[(String, DataFrame)]): Unit = {
    val spark = newRows.sparkSession
    val fs = openCommit(spark, dir, commitId)
    val carried = committed(spark, dir).files
    require(carried.nonEmpty, s"replace against $dir: no committed base")
    def partOf(rel: String): Option[String] =
      s"/($partCol=[^/]+)/".r.findFirstMatchIn(rel).map(_.group(1))
    val keptOld = carried.filter {
      case f if f.table == table =>
        val pt = partOf(f.path)
        require(pt.nonEmpty,
          s"replace: committed $table file '${f.path}' has no $partCol= " +
            "dir — the table was not committed partitionBy'd")
        !replacedParts.contains(pt.get)
      case f => !rewriteTables.exists(_._1 == f.table)
    }
    val written = (table -> newRows) +: rewriteTables
    val fresh = writeFiles(fs, dir, commitId, written,
      Map(table -> partCol))
    val freshParts = fresh.filter(_.table == table)
      .flatMap(f => partOf(f.path)).toSet
    require(freshParts == replacedParts,
      s"replace: written partitions $freshParts != declared " +
        s"$replacedParts — newRows must hold exactly the replaced " +
        "partitions' rows")
    publish(spark, dir, commitId,
      (keptOld.map(_.table) ++ written.map(_._1)).distinct,
      keptOld ++ fresh)
  }

  /** The current committed manifest of `dir` as (commitId, entries) —
    * entries are (table, relative path). */
  def readTablesManifest(spark: SparkSession,
      dir: String): (String, Seq[(String, String)]) = {
    val m = committed(spark, dir)
    (m.commit, m.files.map(f => (f.table, f.path)))
  }

  /** Read ONE table of the committed transaction — exclusively the
    * files the manifest names for it (the atomicity contract: a table
    * whose sibling's write crashed is invisible because the manifest
    * swap never happened). */
  def readTableViaManifest(spark: SparkSession, dir: String,
      table: String): DataFrame =
    spark.read.parquet(tablePaths(spark, dir, table)._2: _*)

  /** True iff `dir` carries a committed manifest naming every table in
    * `tables` — the build-once guard a serve-path calls before
    * deciding whether to (re)build. */
  def hasCommittedTables(spark: SparkSession, dir: String,
      tables: Seq[String]): Boolean = {
    val mPath = new Path(s"$dir/manifest.json")
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(mPath) &&
      tables.toSet.subsetOf(committed(spark, dir).files.map(_.table).toSet)
  }

  /** One committed file: its table, its path relative to the table
    * set's dir, and its byte size. */
  private case class ManifestFile(table: String, path: String, bytes: Long)

  /** The one manifest format: `{"commit","tables","files":[{"table",
    * "path","bytes"}]}`, written and read only through [[json]]. */
  private case class Manifest(commit: String, tables: Seq[String],
      files: Seq[ManifestFile])

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def committed(spark: SparkSession, dir: String): Manifest = {
    val mPath = new Path(s"$dir/manifest.json")
    val in = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(mPath)
    try json.readValue(in: java.io.InputStream, classOf[Manifest])
    finally in.close()
  }

  /** (commit, `dir`-rooted paths) of `table`'s committed files. */
  private def tablePaths(spark: SparkSession, dir: String,
      table: String): (String, Seq[String]) = {
    val m = committed(spark, dir)
    val paths = m.files.collect {
      case f if f.table == table => s"$dir/${f.path}" }
    require(paths.nonEmpty,
      s"manifest at $dir names no files for table '$table'")
    (m.commit, paths)
  }

  /** Commit ids are SINGLE-USE (ADVICE r15): re-writing an existing
    * commit prefix would delete files the currently-committed manifest
    * may still reference — a reader in that window would see exactly
    * the torn half-table the protocol promises is impossible. Callers
    * that re-run (bench best-of-2, selfcheck) take a fresh
    * [[newCommitId]] per invocation and GC. Returns the commit's
    * filesystem. */
  private def openCommit(spark: SparkSession, dir: String,
      commitId: String): FileSystem = {
    val dataPath = new Path(s"$dir/data/$commitId")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(dataPath),
      s"commit '$commitId' already exists under $dir — commit ids are " +
        "single-use; pass Shard.newCommitId() per invocation")
    fs
  }

  /** Write each table under `dir/data/<commitId>/<table>/` (Hive-style
    * `partitionBy` dirs where given) and list the parquet files it left
    * there as manifest entries. */
  private def writeFiles(fs: FileSystem, dir: String, commitId: String,
      tables: Seq[(String, DataFrame)], partitionBy: Map[String, String])
      : Seq[ManifestFile] = {
    val root = fs.makeQualified(new Path(dir)).toString
    tables.flatMap { case (name, df) =>
      val tPath = s"$dir/data/$commitId/$name"
      partitionBy.get(name).fold(df.write)(df.write.partitionBy(_))
        .parquet(tPath)
      val it = fs.listFiles(new Path(tPath), true)
      val buf = Seq.newBuilder[ManifestFile]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          buf += ManifestFile(name,
            st.getPath.toString.stripPrefix(root).stripPrefix("/"),
            st.getLen)
      }
      buf.result()
    }
  }

  /** The one publish step of every commit — the single-manifest-swap
    * protocol at the core of the lakehouse formats:
    *
    *  1. the commit's files have landed under an opaque prefix
    *     `dir/data/<commitId>/<table>/` — a crash before step 3 leaves
    *     unreferenced files, never a readable half-table;
    *  2. ONE manifest naming every (table, path, bytes) entry, the
    *     commit's fresh files plus any carried by reference (sorted by
    *     table then path, so the bytes are deterministic for a given
    *     layout), is written to a dot-temp name and fsynced (hsync —
    *     durable before the swap);
    *  3. the manifest is atomically renamed to `dir/manifest.json`
    *     (FileContext OVERWRITE rename — the one atomic primitive the
    *     protocol needs from the filesystem).
    *
    * Readers resolve file paths EXCLUSIVELY through the manifest, so
    * partial writes, abandoned commits and in-flight temp manifests
    * are invisible by construction (ShardSpec, TxnSpec simulate each),
    * and a table set's readers see either every new table or every
    * old one. At 100 TB the manifest stays O(files) metadata, reads
    * never list the data directory, and old commits remain on disk
    * for time-travel/GC exactly as in the table formats. */
  private def publish(spark: SparkSession, dir: String, commitId: String,
      tables: Seq[String], files: Seq[ManifestFile]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = json.writeValueAsBytes(Manifest(commitId, tables,
      files.sortBy(f => (f.table, f.path))))
    val tmp = new Path(s"$dir/.manifest.json.$commitId.tmp")
    val out = tmp.getFileSystem(conf).create(tmp, true)
    try {
      out.write(bytes)
      out.hsync() // durable BEFORE it becomes visible
    } finally out.close()
    FileContext.getFileContext(tmp.toUri, conf).rename(tmp,
      new Path(s"$dir/manifest.json"), Options.Rename.OVERWRITE)
  }

  /** Deterministic epoch shuffle (X257 — the global training-order
    * permutation every run performs before epoch 0): each row gets a
    * seeded shuffle key md5("epoch:E:" || key), and its GLOBAL rank in
    * key order is its training position. The scale shape avoids both
    * the partition-less ROW_NUMBER window and any driver-side sort:
    * the first hex digit of the key is an order-preserving RANGE
    * bucket (`shard` 0–15 — shard asc + key asc ≡ global key order,
    * exactly a repartition-by-range with literal boundaries), so
    * positions come from a shard-PARTITIONED window plus per-shard
    * base offsets (an exclusive prefix sum over a 16-row aggregate —
    * bounded driver metadata, the PrefixSum device). Emits `skey`,
    * `shard`, `pos_in_shard` (1-based within the shard) and
    * `global_pos` (1-based global permutation index). At 100 TB this
    * is ONE shuffle on a 16-ary key + a 16-row collect; feeding the
    * result to [[writeSharded]]-style partitioned output gives the
    * epoch's shard files in training order. */
  def epochShuffle(df: DataFrame, keyCol: String, epoch: Int): DataFrame = {
    val withK = df
      .withColumn("skey",
        md5(concat(lit(s"epoch:$epoch:"), col(keyCol).cast("string"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 1), 16, 10).cast("int"))
    val counts = withK.groupBy("shard").agg(count(lit(1)).as("n"))
      .collect() // ≤ 16 rows: bounded driver metadata
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases: Map[Int, Long] = counts
      .scanLeft((0, 0L)) { case ((_, acc), (sh, n)) => (sh, acc + n) }
      .sliding(2).collect { case Array((_, acc), (sh, _)) => sh -> acc }
      .toMap
    val w = Window.partitionBy("shard").orderBy(col("skey"), col(keyCol))
    withK
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
      .withColumn("global_pos",
        col("pos_in_shard") +
          coalesce(element_at(typedLit(bases), col("shard")), lit(0L)))
  }
}
