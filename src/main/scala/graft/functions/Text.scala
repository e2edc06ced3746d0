package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for training-data pipelines — all
  * built-in codegen'd functions (no UDFs); the per-row loops live in
  * Catalyst's higher-order-function evaluators.
  */
object Text {

  /** Whitespace tokenization; empty string → empty array (split of ""
    * yields [""], filtered here). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish subword-ised token count: word chars split from
    * punctuation runs (a cheap stand-in for a real BPE vocab — counts
    * the units a byte-pair tokenizer would start from). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long")

  /** Word k-shingles, distinct. Shorter-than-k docs yield their single
    * joined form (never an empty shingle set for non-empty text). */
  def wordShingles(text: Column, k: Int): Column = {
    val ts = tokens(text)
    val joined = when(size(ts) >= k,
      array_distinct(transform(sequence(lit(1), size(ts) - (k - 1)),
        i => array_join(slice(ts, i, lit(k)), " "))))
      .otherwise(array(array_join(ts, " ")))
    joined
  }

  /** Shingle/token hash arrays feeding MinHash/SimHash. */
  def hashed(arr: Column): Column = transform(arr, x => xxhash64(x))

  /** Normalized form for exact fingerprinting: lowercase, strip
    * non-alphanumerics, collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  /** Content fingerprint: md5 of the normalized text — stable across
    * engines (DuckDB md5 matches), used for near-exact dedup. */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  // ---- quality scoring ----

  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val punct = length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))
    punct.cast("double") / nullif(length(text).cast("double"), lit(0.0))
  }

  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column,
      stopwords: Seq[String] = DefaultStopwords): Column = {
    val ts = tokens(text)
    val sw = filter(ts, t => lower(t).isin(stopwords: _*))
    size(sw).cast("double") / nullif(size(ts).cast("double"), lit(0.0))
  }

  /** Mean token length. */
  def meanTokenLen(text: Column): Column = {
    val ts = tokens(text)
    aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long"))
      .cast("double") / nullif(size(ts).cast("double"), lit(0.0))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, low
    * punctuation, a natural stopword rate, and plausible word lengths.
    * Heuristic after public quality-filter recipes (C4/Gopher rules). */
  def qualityScore(text: Column): Column = {
    val nTok = size(tokens(text)).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0)) // <50 tokens penalized
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    val swr = coalesce(stopwordRatio(text), lit(0.0))
    val swScore = greatest(lit(0.0), lit(1.0) - abs(swr - 0.4) * 2.0)
    val mtl = coalesce(meanTokenLen(text), lit(0.0))
    val wordScore = when(mtl.between(3.0, 10.0), 1.0).otherwise(0.5)
    (lenScore * 0.3 + punctScore * 0.2 + swScore * 0.3 + wordScore * 0.2)
  }

  // ---- repetition metrics (Gopher-style) ----

  /** Fraction of tokens that are repeats of an earlier token:
    * (n − n_distinct) / n. NULL for token-less text. */
  def dupTokenFraction(text: Column): Column = {
    val ts = tokens(text)
    (size(ts) - size(array_distinct(ts))).cast("double") /
      nullif(size(ts).cast("double"), lit(0.0))
  }

  /** ALL word n-grams in order (non-distinct — counting needs the
    * duplicates wordShingles drops); empty array when < n tokens. */
  def wordNgramsAll(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => array_join(slice(ts, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  // The top-n-gram char fraction (maxCount · len(longest max-count
  // n-gram) / n_chars) ships ONLY as the fused RepetitionStats kernel.
  // A composed Column formulation is a trap: interpreted higher-order
  // lambdas re-evaluate captured expression SUBTREES per element, so
  // nesting filter(grams, …) inside transform(grams, …) over an
  // inlined grams tree is O(n³) string work per row (~10 CPU-minutes
  // on a 50-doc fixture). The staged cross-check — grams/counts/max
  // materialized as attributes between projections — lives in
  // TextSpec; the DuckDB oracle replays the same staged shape over
  // materialized lists.

  /** Non-empty lines (for multi-line corpora; the parquet fixture is
    * single-line, so these carry spec coverage, not an oracle row). */
  def lines(text: Column): Column =
    filter(split(text, "\n"), l => length(l) > 0)

  /** Fraction of lines that are duplicates of an earlier line. */
  def dupLineFraction(text: Column): Column = {
    val ls = lines(text)
    (size(ls) - size(array_distinct(ls))).cast("double") /
      nullif(size(ls).cast("double"), lit(0.0))
  }

  /** C4-style line-level keep predicate applied to a staged line
    * array: a line survives iff it has ≥ `minToks` tokens, ≥
    * `minChars` characters, and does not contain the banned token
    * (C4 drops "javascript" lines; the knob generalizes). Callers
    * must pass a MATERIALIZED line-array attribute, not an inline
    * subtree — interpreted HOF lambdas re-evaluate captured subtrees
    * per element (see the q_text_repetition note). */
  def keptLines(ls: Column, minToks: Int, minChars: Int,
      banned: String): Column =
    filter(ls, l =>
      size(filter(split(l, " "), t => length(t) > 0)) >= minToks &&
        length(l) >= minChars &&
        !array_contains(split(l, " "), banned))

  // ---- PII redaction ----

  /** Publicly-documented lexical PII patterns, RE2-compatible (the
    * oracle engine's regex dialect) AND Java-compatible: no lookaround,
    * ASCII word boundaries only. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongDigitsRe = "\\d{7,}"

  /** Redact emails → <EMAIL>, IPv4s → <IP>, 7+-digit runs → <NUM>
    * (phone/account-number-ish), in that order — emails first so their
    * digit runs don't half-redact, digit runs last so they can't eat
    * the IP octets. Pure regexp_replace chain: codegen'd, per-row,
    * shuffle-free at any scale. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongDigitsRe, "<NUM>")

  /** Match counts per PII class (the audit numbers a scrub job logs). */
  def piiCounts(text: Column): (Column, Column, Column) = (
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long"),
    size(regexp_extract_all(regexp_replace(text, EmailRe, "<EMAIL>"),
      lit(Ipv4Re), lit(0))).cast("long"),
    size(regexp_extract_all(
      regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      lit(LongDigitsRe), lit(0))).cast("long"))

  // ---- language identification ----

  /** Per-language marker-word profiles (public stopword lists). The
    * n-gram-heuristic language ID: score = marker hits per token,
    * argmax wins, 'und' when nothing scores. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it",
      "was", "for", "with", "are", "this", "have", "from"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del",
      "las", "por", "un", "una", "con", "para", "es"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un",
      "une", "du", "est", "que", "pour", "dans", "qui"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu",
      "mit", "ist", "des", "im", "nicht", "ein", "eine"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "他", "有",
      "这", "个", "上", "们", "来", "到", "就"))

  /** Language ID over whitespace tokens. Ties break by profile order
    * (en first) — deterministic. */
  def langId(text: Column): Column = {
    val ts = transform(tokens(text), t => lower(t))
    val scores = LangProfiles.map { case (lang, markers) =>
      lang -> size(filter(ts, t => t.isin(markers: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, "und")) { case (acc, (lang, sc)) =>
      acc.when(sc === best, lang)
    }.otherwise("und")
  }
}
