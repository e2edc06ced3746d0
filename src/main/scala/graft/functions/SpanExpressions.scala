package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Intra-document repeated-span removal in ONE pass — the scale form
  * of `ops.SpanDedup`'s composed HOF pipeline.
  *
  * Semantics (identical to the composed form, which the DuckDB oracle
  * replays and SpanSpec pins this kernel against): a k-token window
  * whose exact text occurred at an earlier window position in the same
  * document is a duplicate; every duplicate window's k positions are
  * marked (overlaps union); the document is rebuilt from unmarked
  * tokens, space-joined. The mark set is exactly the union over
  * duplicate windows — a first occurrence is never marked by being
  * repeated, only by lying inside some OTHER duplicate window — as in
  * the composed form.
  *
  * Why a kernel: the composed form evaluates O(windows²) INTERPRETED
  * array-HOF comparisons per document (`array_position` inside a
  * `filter` lambda — a linear scan per window). At the 1M-doc stress
  * scale that measured ~385 µs/doc. Here the first-occurrence test is
  * a hash-map `putIfAbsent`, one O(n·k) scan per document, inside
  * whole-stage codegen.
  *
  * Window equality: k tokens joined with a single space — tokens
  * contain no whitespace (they come from the `\s+` split every other
  * text op uses), so join equality ⇔ token-sequence equality, exactly
  * the composed form's `array_join` key.
  */
case class SpanDedupStats(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 2, "window size must be at least 2")

  override def dataType: DataType = SpanDedupStats.schema
  override def prettyName: String = "span_dedup_stats"

  override def nullSafeEval(input: Any): Any =
    SpanDedupStats.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SpanDedupStats.compute($c, $k);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SpanDedupStats {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_dup_windows", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false),
    StructField("cleaned_text", StringType, nullable = false)))

  def compute(s: UTF8String, k: Int): InternalRow = {
    val toks = RepetitionStats.splitTokens(s.toString)
    val n = toks.length
    var dups = 0L
    val removed = new Array[Boolean](n)
    if (n >= k) {
      val first =
        new java.util.HashMap[String, Integer](Integer.highestOneBit(n) * 4)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= n - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        if (first.putIfAbsent(sb.toString, Integer.valueOf(i)) != null) {
          dups += 1
          var p = i
          while (p < i + k) { removed(p) = true; p += 1 }
        }
        i += 1
      }
    }
    rebuild(toks, removed, dups)
  }

  /** The output row: token count, duplicate windows, removed tokens
    * and the text rebuilt from the tokens not marked `removed`. */
  private[functions] def rebuild(toks: Array[String],
      removed: Array[Boolean], nDupWindows: Long): InternalRow = {
    var nRemoved = 0L
    val cleaned = new java.lang.StringBuilder
    var p = 0
    while (p < toks.length) {
      if (removed(p)) nRemoved += 1
      else {
        if (cleaned.length > 0) cleaned.append(' ')
        cleaned.append(toks(p))
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](toks.length.toLong, nDupWindows,
      nRemoved, UTF8String.fromString(cleaned.toString)))
  }
}

/** Span-union rebuild against an EXTERNALLY-computed duplicate-window
  * list — the per-row half of cross-document substring dedup (the
  * corpus-global winner election supplies `dups`; this kernel marks
  * each duplicate window's k positions, unions overlaps, and rebuilds
  * the document in one pass).
  *
  * Why a kernel and not array HOFs: the composed rebuild
  * (`filter(positions, p => !array_contains(rm, p))`) re-evaluates the
  * `rm` construction INSIDE the lambda once per position after
  * Catalyst collapses the staged projections — O(n·d) interpreted
  * expression trees with allocations per row (measured ~7 s for 5000
  * sf0.1 docs, >90% of the whole query). Here the mark set is one
  * boolean array and the walk is O(n + d·k), codegen'd. */
case class SpanRebuild(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k >= 1, "window size must be at least 1")

  override def dataType: DataType = SpanDedupStats.schema
  override def prettyName: String = "span_rebuild"

  override def nullSafeEval(text: Any, dups: Any): Any =
    SpanRebuild.compute(text.asInstanceOf[UTF8String],
      dups.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, d) =>
      s"${ev.value} = graft.functions.SpanRebuild.compute($t, $d, $k);")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

object SpanRebuild {
  def compute(s: UTF8String,
      dups: org.apache.spark.sql.catalyst.util.ArrayData,
      k: Int): InternalRow = {
    val toks = RepetitionStats.splitTokens(s.toString)
    val n = toks.length
    val removed = new Array[Boolean](n)
    val nd = dups.numElements()
    var i = 0
    while (i < nd) {
      val p = dups.getInt(i) // 1-based window start
      var j = p - 1
      val end = math.min(p - 1 + k, n)
      while (j < end) { if (j >= 0) removed(j) = true; j += 1 }
      i += 1
    }
    SpanDedupStats.rebuild(toks, removed, nd.toLong)
  }
}

object SpanFunctions {
  def spanDedupStats(text: Column, k: Int): Column =
    ColumnBridge.column(SpanDedupStats(ColumnBridge.expression(text), k))

  def spanRebuild(text: Column, dups: Column, k: Int): Column =
    ColumnBridge.column(SpanRebuild(ColumnBridge.expression(text),
      ColumnBridge.expression(dups), k))
}
