package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis expressions for large-scale training-data pipelines:
  * tokenization, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting. All are composed from codegen'd built-in
  * higher-order functions (`split`/`filter`/`transform`/`aggregate`) —
  * no UDFs, so they stay inside whole-stage codegen and scale linearly
  * with a plain projection over 100 TB of text.
  */
object TextOps {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Mean token length, derived from char count minus separators. */
  def avgWordLen(text: Column): Column = {
    val n = size(tokens(text))
    (length(text) - (n - lit(1))).cast("double") / n
  }

  /** Fraction of tokens of an already-tokenized column found in `words`
    * (stopword density — a standard fluency signal in quality filters).
    */
  def wordRatioToks(toks: Column, words: Seq[String]): Column =
    hitCountToks(toks, words).cast("double") / size(toks)

  /** Count of tokens of an already-tokenized column found in `words`.
    * Callers project the token attribute once and pass it to every
    * signal: with ≥2 references the attribute survives CollapseProject,
    * so the regex split runs exactly once per row.
    */
  def hitCountToks(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*))).cast("long")

  /** Language-marker word lists for the n-gram/stopword language-ID
    * heuristic. Deterministic constants; extend per deployment.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "la", "los", "las", "que", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "nicht"),
    "zh" -> Seq("de", "shi", "bu", "le", "ren", "wo", "zai", "you"))

  /** Per-language marker hit-count columns over an already-tokenized
    * column, aliased `score_<lang>`: one split serves all five language
    * scores instead of one split per language.
    */
  def langScoresToks(toks: Column): Seq[Column] =
    LangMarkers.map { case (lang, words) =>
      hitCountToks(toks, words).as(s"score_$lang")
    }

  /** Arg-max language with deterministic priority order on ties (list
    * order above). Expects the `score_<lang>` columns to be in scope.
    */
  def langIdFromScores: Column = {
    val langs = LangMarkers.map(_._1)
    langs.init.foldRight(lit(langs.last)) { (lang, rest) =>
      val mine = col(s"score_$lang")
      val ge = langs.filterNot(_ == lang)
        .map(o => mine >= col(s"score_$o")).reduce(_ && _)
      when(ge, lit(lang)).otherwise(rest)
    }
  }

  /** Polynomial rolling-hash fingerprint over the character stream
    * (base 31 mod 1e9+7). Order-sensitive — "ab c" and "ba c" differ —
    * and engine-portable (no overflow: the accumulator stays < 2^35).
    * Computed by the native codegen'd [[graft.functions.RollingHash]]:
    * one loop over the string, no per-char array, no interpreted fold
    * (unit-tested equal to the HOF formulation it replaced).
    */
  def fingerprint(text: Column): Column = graft.functions.RollingHash.of(text)

  /** Web-corpus Unicode scrub — run BEFORE any byte-level operator
    * (fingerprints, shingles, exact-hash dedup): NFC normalization
    * ([[graft.functions.NfcNormalize]], codegen'd — composed and
    * decomposed spellings of the same text become byte-identical),
    * then zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — the classic
    * dedup-evading invisibles) and non-whitespace C0/DEL controls
    * stripped. Tab/newline/CR survive; everything is a pure projection
    * riding the corpus scan.
    */
  def unicodeScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(graft.functions.NfcNormalize.of(text),
        "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", ""),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")

  /** Strict token n-grams: empty when the doc has fewer than n tokens
    * (unlike [[shingles]], which degrades to one whole-doc shingle so
    * MinHash always has input). The short-doc branch is guarded here,
    * not in callers: `sequence(0, size-n)` would produce a DESCENDING
    * range (e.g. [0,-1]) when size < n and the negative index makes
    * `slice` throw at runtime.
    */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Fraction of token instances that repeat an earlier token — the
    * token-granularity analogue of Gopher's duplicate-line fraction
    * (Rae et al. 2021, appendix A1.1; the corpus here is single-line,
    * so lines degenerate and tokens/n-grams carry the signal).
    *
    * `toks` MUST be a projected attribute column (`.select(tokens(text)
    * .as("toks"))` first), not an inline `tokens(text)` tree: a lambda
    * can't hoist outer subexpressions, so an inline tree re-runs the
    * regex split once per array ELEMENT — measured 8-20× slower here
    * and 400× on the nested form. Same rule for the n-gram metrics
    * below.
    */
  def dupTokenFrac(toks: Column): Column =
    (size(toks) - size(array_distinct(toks))).cast("double") / size(toks)

  /** Chars covered by the "heaviest" n-gram (max over grams of
    * occurrences × gram length) relative to doc length — Gopher's
    * top-n-gram character fraction. Counted by sorting the grams and
    * folding run lengths — O(B log B) per row, a pure projection: no
    * explode, no shuffle, linear in corpus size. (The naive per-gram
    * count — filter the gram list for each gram — is O(B²) nested-
    * lambda work; it measured 417 s where this measures ~1 s at sf0.1.)
    */
  def topNgramCharFrac(toks: Column, textLen: Column, n: Int): Column = {
    val grams = array_sort(ngrams(toks, n))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val best = aggregate(grams, zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run * length(x)).as("best"))
      },
      acc => acc.getField("best"))
    when(size(toks) < n, lit(0.0))
      .otherwise(best.cast("double") / textLen)
  }

  /** Fraction of n-gram instances that are repeats (Gopher's duplicate
    * n-gram family, instance-level).
    */
  def dupNgramFrac(toks: Column, n: Int): Column = {
    val grams = ngrams(toks, n)
    when(size(toks) < n, lit(0.0)).otherwise(
      (size(grams) - size(array_distinct(grams))).cast("double") / size(grams))
  }

  /** Token n-gram shingles ("w1 w2 w3" strings) — the MinHash unit. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Sliding-window retrieval chunking: each document becomes rows
    * `(id, chunk_idx, chunk_text, chunk_tokens)` of `chunkTokens`-token
    * windows starting every `stride` tokens — the RAG/embedding-index
    * preparation step (overlap = chunkTokens - stride carries context
    * across boundaries). Chunk count is closed-form LONG arithmetic —
    * `1 + ceil(max(n - chunkTokens, 0) / stride)` — so the last chunk
    * is the first one reaching the document's end (no trailing
    * sub-stride fragments, every token covered). A pure
    * projection + posexplode: no shuffle, output ~n/stride rows per
    * doc, linear at any corpus size; the token array is projected ONCE
    * per row (the [[dupTokenFrac]] hoisting rule) and sliced per
    * chunk inside codegen.
    */
  def chunkRows(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(stride >= 1 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $stride")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
    val nChunks = expr(
      s"(greatest(__n - $chunkTokens, 0L) + ${stride - 1}) div $stride") +
      lit(1L)
    toks
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ", slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens.toLong), col("__n") - col("chunk_idx") * stride)
          .as("chunk_tokens"))
  }

  /** Per-document lexical-diversity signals — the gibberish/template
    * detectors a length rule can't see: word-distribution Shannon
    * entropy in nats (a 40-copies-of-one-word page scores ~0, natural
    * prose ~4-6) and the type/token ratio in exact integer ppm.
    * Output: (idCol, n_tokens, n_types, ttr_ppm, entropy).
    *
    * Shape: explode to (doc, word), ONE (doc, word) count aggregate,
    * then a DOC-KEYED window (bounded by per-doc vocabulary — never
    * global) carries the per-doc totals onto each word row in a single
    * exchange; a self-join formulation would recompute the
    * corpus-scale word grid twice. One doc-keyed rollup closes.
    *
    * Determinism: the transcendental `ln` is rounded to 9 dp PER TERM
    * before any accumulation (the unigramSurprisal rule), per-word
    * contributions are exact-decimal-summed, and the closing round is
    * a compare convenience.
    */
  def lexicalStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val acc = org.apache.spark.sql.types.DecimalType(30, 15)
    val w = Window.partitionBy(col(idCol))
    val cw = df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    cw.withColumn("n_tokens", sum("__c").over(w))
      .withColumn("n_types", count(lit(1)).over(w))
      .withColumn("__t",
        (col("__c").cast("double") / col("n_tokens").cast("double")) *
          round(log(col("n_tokens").cast("double") /
            col("__c").cast("double")), 9))
      .groupBy(col(idCol), col("n_tokens"), col("n_types"))
      .agg(round(sum(col("__t").cast(acc)).cast("double"), 9).as("entropy"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        expr("n_types * 1000000L div n_tokens").as("ttr_ppm"),
        col("entropy"))
  }
}
