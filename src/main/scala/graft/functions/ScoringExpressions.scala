package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused hashed-bag-of-ngrams kernels for the linear-classifier
  * scoring scan and its training side (ops.Scoring): Σ_f w[bucket(f)]
  * over the document's unigrams + bigrams (plus the token count), or
  * the bucket sequence itself, in ONE pass over the UTF-8 bytes — no
  * token array, no n-gram string array, no per-feature Column
  * machinery.
  *
  * The composed formulation (transform over concat(tokens, bigrams)
  * with an md5 + element_at per feature) allocates two string arrays
  * and one concat'd feature string per feature per row; at 1M docs ×
  * ~120 features that is ~10⁸ short-lived allocations per scan. The
  * kernels reuse one thread-local MessageDigest and one scratch
  * buffer, walk the byte array once for unigrams and once for
  * bigrams, and fold weights in EXACTLY the composed order (unigrams
  * left-to-right, then bigrams left-to-right, from 0.0) — so margins
  * are bit-identical to the composed version (ScoringSpec pins ===,
  * not approximate) and to the SQL oracle's derivation.
  *
  * Bucketing matches [[graft.ops.Scoring.featureBucket]]: md5 of
  * "<salt><feature>" (bigram = "tok1 tok2"), first 4 digest bytes as
  * a big-endian unsigned 32-bit int, mod the bucket count. Tokens are
  * maximal runs of non-whitespace bytes (Java `\s` over ASCII:
  * tab, LF, VT, FF, CR, space — multi-byte UTF-8 never collides with
  * these, so byte-level splitting is exact for any input).
  */
object HashedBag {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' ||
      b == '\r'

  /** Bucket of salt ++ bytes[from, to) (++ ' ' ++ bytes[f2, t2) for
    * bigrams): first 4 md5 bytes, big-endian unsigned, mod nBuckets —
    * identical to conv(substring(md5(concat(salt, f)), 1, 8), 16, 10)
    * % nBuckets. */
  private def bucketOf(md: java.security.MessageDigest, salt: Array[Byte],
      bytes: Array[Byte], from: Int, to: Int, from2: Int, to2: Int,
      nBuckets: Int): Int = {
    md.reset()
    md.update(salt)
    md.update(bytes, from, to - from)
    if (from2 >= 0) {
      md.update(' '.toByte)
      md.update(bytes, from2, to2 - from2)
    }
    val d = md.digest()
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % nBuckets).toInt
  }

  /** Token spans of `bytes` (start,end pairs of non-space runs) and
    * their count, packed as (spans, nTok). */
  private def tokenSpans(bytes: Array[Byte]): (Array[Int], Int) = {
    val n = bytes.length
    var spans = new Array[Int](32)
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && isSpace(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isSpace(bytes(i))) i += 1
        if (nTok * 2 + 2 > spans.length)
          spans = java.util.Arrays.copyOf(spans, spans.length * 2)
        spans(nTok * 2) = start
        spans(nTok * 2 + 1) = i
        nTok += 1
      }
    }
    (spans, nTok)
  }

  /** Bucket-sequence kernel (see [[HashedBagBuckets]]): same walk,
    * collects bucket ids instead of folding weights. */
  def computeBuckets(s: UTF8String, nBuckets: Int,
      salt: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = s.getBytes
    val md = digest.get()
    val (spans, nTok) = tokenSpans(bytes)
    val out = new Array[Int](if (nTok >= 2) nTok * 2 - 1 else nTok)
    var t = 0
    while (t < nTok) {
      out(t) = bucketOf(md, salt, bytes,
        spans(t * 2), spans(t * 2 + 1), -1, -1, nBuckets)
      t += 1
    }
    t = 0
    while (t < nTok - 1) {
      out(nTok + t) = bucketOf(md, salt, bytes,
        spans(t * 2), spans(t * 2 + 1),
        spans(t * 2 + 2), spans(t * 2 + 3), nBuckets)
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Margin kernel: [margin, nTok] from ONE walk — the scoring
    * projection needs both the margin and the feature count
    * (= 2·nTok − 1 for nTok ≥ 1), and computing the count via a
    * composed tokens+bigrams size() re-tokenizes the document and
    * materializes every bigram string per row. */
  def computeStats(s: UTF8String, w: Array[Double],
      salt: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = s.getBytes
    val md = digest.get()
    val (spans, nTok) = tokenSpans(bytes)
    var acc = 0.0
    var t = 0
    while (t < nTok) {
      acc += w(bucketOf(md, salt, bytes,
        spans(t * 2), spans(t * 2 + 1), -1, -1, w.length))
      t += 1
    }
    t = 0
    while (t < nTok - 1) {
      acc += w(bucketOf(md, salt, bytes,
        spans(t * 2), spans(t * 2 + 1),
        spans(t * 2 + 2), spans(t * 2 + 3), w.length))
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(acc, nTok.toDouble))
  }
}

/** The bucket SEQUENCE kernel for the training side (see
  * [[HashedBag]]): emits the per-feature bucket ids (unigrams then
  * bigrams, in order) as array<int>, so feature counting is explode +
  * groupBy over ints — same one-pass byte walk, no feature-string
  * materialization. */
case class HashedBagBuckets(child: Expression, buckets: Int,
    salt: String) extends UnaryExpression {

  require(buckets > 0, "buckets must be positive")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "hashed_bag_buckets"
  override def nullable: Boolean = true

  @transient private lazy val saltBytes: Array[Byte] =
    salt.getBytes("UTF-8")

  override def nullSafeEval(input: Any): Any =
    HashedBag.computeBuckets(
      input.asInstanceOf[UTF8String], buckets, saltBytes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("hbbSalt", saltBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashedBag.computeBuckets(
        $c, $buckets, $s);""")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** array<double> [margin, token count] of the hashed bag (see
  * [[HashedBag]]) — one walk serves both outputs of the scoring
  * projection. */
case class HashedBagStats(child: Expression, weights: Seq[Double],
    salt: String) extends UnaryExpression {

  require(weights.nonEmpty, "weights must be non-empty")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "hashed_bag_stats"
  override def nullable: Boolean = true

  @transient private lazy val wArr: Array[Double] = weights.toArray
  @transient private lazy val saltBytes: Array[Byte] =
    salt.getBytes("UTF-8")

  override def nullSafeEval(input: Any): Any =
    HashedBag.computeStats(
      input.asInstanceOf[UTF8String], wArr, saltBytes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("hbsWeights", wArr, "double[]")
    val s = ctx.addReferenceObj("hbsSalt", saltBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashedBag.computeStats($c, $w, $s);""")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ScoringFunctions {
  /** [margin, token count] in one walk (see [[HashedBagStats]]):
    * margin = Σ w[bucket(f)] over the unigrams+bigrams of `c`;
    * `weights` is the dense per-bucket vector. */
  def hashedBagStats(c: Column, weights: Seq[Double],
      salt: String): Column =
    ColumnBridge.column(
      HashedBagStats(ColumnBridge.expression(c), weights, salt))

  /** Per-feature bucket ids of `c`'s unigrams+bigrams, in order. */
  def hashedBagBuckets(c: Column, buckets: Int, salt: String): Column =
    ColumnBridge.column(
      HashedBagBuckets(ColumnBridge.expression(c), buckets, salt))
}
