package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style repetition metrics in ONE pass over the document
  * (public recipe: Rae et al. 2021 §A1.1 repetition filters):
  *
  *   [0] duplicate-token fraction   = (n_tokens − n_distinct) / n_tokens
  *   [1] top-2-gram char fraction   = maxCount₂ · len(best₂) / n_chars
  *   [2] top-3-gram char fraction   = maxCount₃ · len(best₃) / n_chars
  *
  * where `bestₙ` is the longest n-gram among those with the maximal
  * occurrence count (a deterministic tie rule, so the metric is
  * reproducible cross-engine), lengths count Unicode code points
  * (Spark `length()` semantics), and tokens are the `split(text,
  * "\\s+")`-nonempty whitespace tokens every other text op uses.
  * NULL slots: all three for a token-less document, [1]/[2] when the
  * document has fewer than 2/3 tokens.
  *
  * The composed formulation (Text.dupTokenFraction + staged
  * grams→counts→max projections over higher-order filters, O(n²) per
  * row on materialized arrays) is what the DuckDB oracle replays and
  * what TextSpec pins this kernel bit-identical against. Every count
  * is an integer and each fraction is a single IEEE divide, so fused
  * ≡ composed ≡ DuckDB exactly.
  *
  * Scale: per-row compute, embarrassingly parallel, no shuffle — the
  * kernel keeps the quality-filter stage scan-bound at 100 TB instead
  * of quadratic in document length.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RepetitionStats.compute($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RepetitionStats {

  /** Matches Java regex `\s` (the exact set Spark's split uses — NOT
    * Character.isWhitespace, which also takes U+001C-1F etc.). */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** The whitespace tokens of `text` (Spark's `split(text, "\\s+")`
    * minus empty tokens); SpanDedupStats tokenizes with it too. */
  private[functions] def splitTokens(text: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(text.charAt(i))) i += 1
      if (i > start) out += text.substring(start, i)
    }
    out.toArray
  }

  @inline private def cp(s: String): Int = s.codePointCount(0, s.length)

  /** maxCount·len(longest max-count n-gram) over word n-grams, via one
    * hash-map pass; -1 when fewer than n tokens. */
  private def topNgramChars(toks: Array[String], n: Int): Long = {
    if (toks.length < n) return -1L
    val counts = new java.util.HashMap[String, Int]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      counts.merge(sb.toString, 1, Integer.sum _)
      i += 1
    }
    var maxc = 0
    var bestLen = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c > maxc) { maxc = c; bestLen = cp(e.getKey) }
      else if (c == maxc) {
        val l = cp(e.getKey)
        if (l > bestLen) bestLen = l
      }
    }
    maxc.toLong * bestLen
  }

  def compute(s: UTF8String): ArrayData = {
    val text = s.toString
    val toks = splitTokens(text)
    val out = new Array[Any](3)
    if (toks.nonEmpty) {
      val distinct = new java.util.HashSet[String]()
      toks.foreach(distinct.add)
      out(0) = java.lang.Double.valueOf(
        (toks.length - distinct.size).toDouble / toks.length.toDouble)
      val chars = cp(text).toDouble
      val t2 = topNgramChars(toks, 2)
      if (t2 >= 0 && chars > 0)
        out(1) = java.lang.Double.valueOf(t2.toDouble / chars)
      val t3 = topNgramChars(toks, 3)
      if (t3 >= 0 && chars > 0)
        out(2) = java.lang.Double.valueOf(t3.toDouble / chars)
    }
    new GenericArrayData(out)
  }
}

object RepetitionFunctions {
  def repetitionStats(text: Column): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(text)))
}
