package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level term statistics: the vocabulary table a tokenizer
  * training run starts from, and TF-IDF term scoring for keyword-style
  * doc labeling. These are the explode-then-aggregate shapes where
  * Spark's map-side partial aggregation does the heavy lifting: the
  * shuffle carries one row per (partition, distinct key), not one row
  * per token instance.
  */
object Vocab {

  /** Jensen–Shannon divergence (nats) between the unigram
    * distributions of two corpora — the SYMMETRIC, always-finite
    * source-similarity metric the curation mixers want where KL blows
    * up on any token one side lacks (Lin 1991): JSD = ½KL(a‖m) +
    * ½KL(b‖m) with m the midpoint, bounded by ln 2. This is the
    * number behind "how different is src A's text from src B's" in a
    * source-mixing schedule, and the pairwise cell of a
    * source-similarity matrix.
    *
    * Scale shape: one explode + ONE map-side-combinable (token, side)
    * aggregate is the only fact-scale work; the per-token JSD terms
    * run over the vocabulary-domain table. Determinism: token counts
    * exact; each token's term is a single-valued double expression
    * rounded at 9 dp and folded through the exact-decimal
    * [[graft.Exprs.dsum]]; one-sided tokens contribute only their
    * present side (the absent side's p·ln(p/m) term is 0 by the
    * limit, encoded as an explicit conditional, not an epsilon).
    * Output: one row `(jsd_nats, n_tokens_a, n_tokens_b, n_vocab)`;
    * an empty side yields NULL.
    */
  def jsDivergence(a: DataFrame, b: DataFrame, textCol: String)
      : DataFrame = {
    def side(df: DataFrame, s: Int) =
      df.select(explode(TextOps.tokens(col(textCol))).as("__t"),
        lit(s).as("__s"))
    // vals is vocabulary-sized and read three ways below (the totals,
    // the term aggregate, the final crossJoin) — checkpoint it so the
    // corpus explode runs once (the wasserstein1D caller-checkpoints
    // rule applied where the operator owns the fan-out)
    val vals = side(a, 0).unionByName(side(b, 1))
      .groupBy("__t")
      .agg(sum(when(col("__s") === 0, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("__cb"))
      .localCheckpoint(true)
    val tot = vals.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"), count(lit(1)).as("__nv"))
    val pa = col("__ca").cast("double") / col("__na")
    val pb = col("__cb").cast("double") / col("__nb")
    val m = (pa + pb) / 2
    val term = round(
      when(col("__ca") > 0, lit(0.5) * pa * round(log(pa / m), 9))
        .otherwise(lit(0.0)) +
        when(col("__cb") > 0, lit(0.5) * pb * round(log(pb / m), 9))
          .otherwise(lit(0.0)), 9)
    val agg = vals.crossJoin(broadcast(tot))
      .select(when(col("__na") > 0 && col("__nb") > 0, term).as("__j"))
      .agg(graft.Exprs.dsum(col("__j")).as("__jsd"))
    tot.crossJoin(agg).select(
      // no closing round: the dsum total is already exact on the
      // decimal grid, and re-rounding an exact double's BINARY form
      // is where engines disagree in the last ulp (the q272 lesson)
      when(col("__na") > 0 && col("__nb") > 0, col("__jsd"))
        .as("jsd_nats"),
      col("__na").as("n_tokens_a"), col("__nb").as("n_tokens_b"),
      col("__nv").as("n_vocab"))
  }

  /** Per-group lexical diversity: type-token ratio and hapax fraction —
    * the corpus-health numbers a source-mixing schedule reads next to
    * [[jsDivergence]] ("is src A template spam or real text?"):
    * boilerplate reads low TTR (few types, endlessly repeated), OCR
    * noise and tag soup read a hapax fraction near 1 (most types occur
    * once). One explode + ONE map-side-combinable (group, token)
    * aggregate is the only fact-scale work; the per-group closing
    * aggregate runs over the group×vocabulary table. Output: one row
    * per group `(group, n_tokens, n_types, ttr, hapax_types,
    * hapax_frac)`.
    */
  def lexicalDiversity(df: DataFrame, groupCol: Column, textCol: String)
      : DataFrame = {
    val counts = df
      .select(groupCol.as("group"),
        explode(TextOps.tokens(col(textCol))).as("__t"))
      .groupBy(col("group"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(col("group"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("hapax_types"))
      .select(col("group"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        col("hapax_types"),
        (col("hapax_types").cast("double") / col("n_types"))
          .as("hapax_frac"))
  }

  /** Vocabulary with occurrence and document frequencies. One explode +
    * one aggregate; `n_docs` uses count(DISTINCT id) inside the same
    * aggregate, which Spark plans as a two-phase partial/final distinct
    * — no extra job, no driver round-trip.
    */
  def vocab(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))

  /** Zipf-law fit of the corpus frequency head: OLS of ln(freq) on
    * ln(rank) over the `topN` most frequent tokens — slope ≈ −s, the
    * Zipf exponent. THE one-number distribution check next to
    * [[lexicalDiversity]]: natural text reads s ≈ 1; template spam
    * reads a flat head (s « 1); a tiny fixed vocabulary reads a
    * cliff. Also the calibration input for shingle/LSH capacity
    * planning (bucket-occupancy forecasts are a function of s).
    *
    * Scale shape: [[vocab]]'s explode + aggregate is the only
    * fact-scale work; the rank is a window over the `topN`-row
    * TakeOrderedAndProject result — bounded by topN, the documented
    * B-rows exception, never a corpus sort. Ranks tie-break (freq
    * desc, token asc) so the fit is a total order. Determinism: both
    * logs rounded at 9 dp, the five OLS sums through
    * [[graft.operators.Ols.fitGrouped]]'s exact-decimal fold. Output:
    * one row `(n, slope, intercept, r2)`.
    */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
              topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val head = vocab(df, idCol, textCol)
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(topN)
    val w = Window.orderBy(col("n_occurrences").desc, col("token").asc)
    val ranked = head
      .withColumn("__r", row_number().over(w))
      .select(round(log(col("__r").cast("double")), 9).as("__x"),
        round(log(col("n_occurrences").cast("double")), 9).as("__y"))
    graft.operators.Ols.fitGrouped(ranked, "__g", lit(1), col("__x"),
        col("__y"))
      .select(col("n"), col("slope"), col("intercept"), col("r2"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`vocabSize` tokens (by occurrence count, ties broken token
    * asc so the cutoff is a total order) — the lexical-novelty /
    * garbage signal: a doc whose tokens mostly miss the head
    * vocabulary is boilerplate, another language, or noise. The
    * vocabulary is a `TakeOrderedAndProject` top-k (per-partition
    * partial top-k, vocab-sized merge — never a full sort) and joins
    * back as a broadcast; per-doc counts are one doc-keyed aggregate.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val v = vocab(df, idCol, textCol)
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1L).as("__in"))
    val toks = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("token"))
    toks.join(broadcast(v), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_frac",
        col("oov_tokens").cast("double") / col("n_tokens"))
  }

  /** The highest-TF-IDF term of each document (deterministic: ties
    * break on token order). Four shuffles — (id,token) term counts,
    * token document frequencies, the join back, the per-doc top-1 — and
    * each is on an aggregate, never on raw token instances. The corpus
    * size joins in as a one-row cross join (a broadcast nested loop),
    * NOT a driver-side collect, so the plan stays fully lazy. The
    * doc-frequency side is unhinted: vocabularies can reach GiBs at
    * corpus scale, so AQE should pick broadcast vs shuffle from the
    * actual size.
    */
  def topTfidfTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_total"))
    val score = col("tf").cast("double") *
      log(col("n_total").cast("double") / col("df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .crossJoin(total)
      .withColumn("score", score)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("token"), col("tf"), col("score"))
  }

  /** Per-document unigram surprisal: total `-ln p(token)` over the
    * doc's tokens (plus the token count) with `p` from the corpus's
    * own token distribution — the model-free perplexity proxy corpus
    * pipelines use as a fluency gate (gibberish and boilerplate both
    * sit far from the corpus mean).  Shape: the same aggregated term
    * counts as TF-IDF; the corpus total joins in as a one-row cross
    * join, so nothing collects to the driver.
    *
    * Determinism: the transcendental `ln` is rounded to 9 dp per TERM
    * (JVM vs libm differ in the last ulp), and the per-doc sum then
    * runs in exact decimal — order-independent on any cluster. The
    * TOTAL is emitted, not the mean, for [[knSurprisal]]'s reason: the
    * decimal-quantized total divided by a small integer count lands
    * EXACTLY on 9-dp grid midpoints (total is a multiple of 1e-6, so
    * total/n steps in exact sub-1e-9 rationals), where two engines'
    * round() legitimately disagree — q150's twin construct was caught
    * doing exactly that at sf0.1. Divide downstream.
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val freq = tf.groupBy("token").agg(sum(col("tf")).as("n_tok"))
    val total = tf.agg(sum(col("tf")).as("n_total"))
    val contrib = col("tf") *
      round(log(col("n_total").cast("double") / col("n_tok")), 9)
    tf.join(freq, Seq("token"))
      .crossJoin(total)
      .groupBy(col(idCol))
      .agg(graft.Exprs.dsum(contrib).as("total_surprisal"),
        sum(col("tf")).as("n_tokens"))
  }

  /** Min-K% surprisal — the membership-inference / memorization signal
    * of Shi et al. 2024 ("Detecting Pretraining Data from Large
    * Language Models", Min-K% Prob), re-read as a corpus-curation
    * statistic: a document whose k% LEAST-probable tokens are STILL
    * unsurprising is suspiciously formulaic (templated spam, or — run
    * against an eval set's surprisals — likely memorized/contaminated
    * text), where the plain mean ([[unigramSurprisal]]) is diluted by
    * the easy 80%. Per doc: rank token INSTANCES by surprisal
    * descending (the lowest-probability tokens first; instance rank
    * ties carry identical surprisal values, so the top-m sum is
    * order-independent), keep the top m = ⌈frac·n⌉, and emit their
    * exact-decimal surprisal TOTAL plus m — the total, not the mean,
    * for [[unigramSurprisal]]'s 9-dp-grid reason; divide downstream.
    *
    * The LM is the corpus's own unigram distribution (model-free, same
    * as [[unigramSurprisal]]) — the aggregation is the operator;
    * substitute [[knSurprisal]] scores upstream for an n-gram LM. One
    * explode, one vocabulary-sized join, one doc-partitioned window:
    * rides the corpus scan, no corpus-sized shuffle beyond the tf
    * aggregate every surprisal op pays.
    */
  def minKSurprisal(df: DataFrame, idCol: String, textCol: String,
                    frac: Double = 0.2): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0, 1], got $frac")
    val tok = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("n_tok"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val ord = byDoc.orderBy(col("c").desc, col("token").asc)
    tok.join(freq, Seq("token"))
      .crossJoin(total)
      .withColumn("c",
        round(log(col("n_total").cast("double") / col("n_tok")), 9))
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("rn", row_number().over(ord))
      .filter(col("rn") <= ceil(lit(frac) * col("n")))
      .groupBy(col(idCol))
      .agg(graft.Exprs.dsum(col("c")).as("min_k_total"),
        count(lit(1)).as("k_tokens"),
        max(col("n")).as("n_tokens"))
  }

  /** TF-IDF weight table `(id, token, w)` with `w = tf · ln(N/df)`
    * rounded to 9 dp (see [[unigramSurprisal]] on why). The sparse
    * document-vector representation: one row per nonzero coordinate.
    */
  def tfidfWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_total"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(total)
      .select(col(idCol), col("token"),
        round(col("tf") * log(col("n_total").cast("double") / col("df")), 9)
          .as("w"))
  }

  /** Okapi BM25 scores for a fixed keyword query over the corpus — the
    * classic lexical-retrieval ranking (Robertson et al.; the
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf variant Lucene uses, which never
    * goes negative). Shape mirrors [[topTfidfTerm]]: one explode feeds
    * (doc, term) counts; document lengths and the corpus totals are
    * aggregates OF that aggregate (the shuffle carries distinct keys,
    * never token instances); the query-term document frequencies are
    * computed AFTER filtering the term-count table to the query's terms,
    * so the df aggregate touches |Q| keys, not the whole vocabulary.
    * Corpus totals ride in as a one-row cross join — no driver collect,
    * fully lazy, and the per-query cost at 100 TB is the posting rows of
    * the query terms, not a vocabulary scan.
    *
    * Determinism: `ln` is rounded to 9 dp (JVM vs libm last-ulp), every
    * other step is exactly-rounded IEEE arithmetic evaluated in the same
    * order as the SQL twin, each term's contribution is rounded to 9 dp,
    * and the per-doc sum runs in exact decimal (order-independent on any
    * partitioning). `dl/avgdl` is computed as `dl · N / total_dl` in
    * DOUBLE to keep one well-defined rounding per operation.
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val tf = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tfq = tf.filter(col("token").isin(queryTerms: _*))
    val dfreq = tfq.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = round(
      log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0)), 9)
    val contrib = round(
      idf * col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b)
          + lit(b) * col("dl").cast("double") * col("n_docs") / col("total_dl"))),
      9)
    tfq.join(dfreq, Seq("token"))
      .join(dl, Seq(idCol))
      .crossJoin(stats)
      .groupBy(col(idCol))
      .agg(graft.Exprs.dsum(contrib).as("score"))
  }

  /** Global BM25 top-k: [[bm25Scores]] + a deterministic TakeOrdered
    * (score desc, id asc) — k rows to the driver, never the corpus.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(df, idCol, textCol, queryTerms, k1, b)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** One greedy left-to-right BPE merge pass: rewrite each symbol
    * array replacing every non-overlapping (a, b) adjacency with the
    * fused symbol — the standard BPE apply step, as a pure catalyst
    * fold (no UDF): the accumulator array grows left to right, and a
    * fuse fires only when the PREVIOUS emitted symbol is `a` (so
    * "a a a" under (a,a) gives [aa, a], the greedy semantics).
    */
  private[graft] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Byte-pair-encoding merge training (Sennrich et al. 2016) over the
    * corpus: start from character symbols, repeatedly count adjacent
    * symbol pairs weighted by word frequency and fuse the most frequent
    * pair. Returns the merge table `(step, lhs, rhs, cnt)` in rank
    * order — the artifact a tokenizer ships.
    *
    * Distribution shape: the corpus collapses to the DISTINCT-word
    * frequency table first (explode + one partial-agg shuffle — pair
    * counting then touches each distinct word once per iteration, not
    * each token instance; the classic trick that makes BPE training
    * corpus-size-independent after pass one). Each iteration is one
    * distributed pair-count aggregate over that table; only the single
    * argmax row comes to the driver (same contract as the k-means
    * codebook — the merge table is `numMerges` rows, never data). The
    * word table is persisted across iterations and the symbol rewrite
    * is the [[applyMerge]] catalyst fold, so every pass is
    * whole-stage-codegen over ~|vocab| rows.
    *
    * Determinism: pair counts are exact integers; the argmax breaks
    * ties by (count desc, lhs asc, rhs asc) — a total order, so the
    * learned merges are identical on any partitioning and replayable
    * in SQL (q143 unrolls two iterations).
    */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
               numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    // char symbols via substring-transform, NOT split(word, ""): Spark's
    // split uses Java's limit=-1 semantics and keeps a trailing empty
    // string that DuckDB's splitter drops. Empty words (leading
    // whitespace artifacts) carry no symbols and are excluded.
    var words = df
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"), col("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= numMerges) {
      // single-symbol words carry no adjacency (and sequence(1, 0)
      // would generate a DESCENDING [1, 0] — Spark's default step is
      // sign-inferred — so they must not reach the transform at all)
      val pair = words.filter(size(col("syms")) >= 2)
        .select(col("cnt"), posexplode(
          expr("transform(sequence(1, size(syms) - 1), i -> struct(syms[i - 1] as l, syms[i] as r))")))
        .select(col("col.l").as("l"), col("col.r").as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (pair.isEmpty) { step = numMerges + 1 } // no adjacencies left
      else {
        val (l, r, c) = (pair.head.getString(0), pair.head.getString(1),
          pair.head.getLong(2))
        merges += ((step, l, r, c))
        val next = words.select(applyMerge(col("syms"), l, r).as("syms"),
            col("cnt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before dropping the parent cache
        words.unpersist()
        words = next
        step += 1
      }
    }
    words.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("step", "lhs", "rhs", "cnt")
  }

  /** The encode face of [[bpeTrain]]: corpus subword frequencies after
    * applying `merges` in rank order — chained [[applyMerge]] folds,
    * one per merge, all inside a single codegen'd projection
    * (expression depth grows with the merge count; segment long merge
    * lists in stages if the tree gets deep). The folds run over the
    * DISTINCT-word table with instance counts joined back through the
    * aggregate — the same collapse [[bpeTrain]] uses, so the per-word
    * rewrite executes |vocab| times, not once per token instance
    * (measured 8.3 s → ~1 s at sf0.1, where 1M instances share ~40
    * distinct words; at corpus scale the ratio is the win). Output:
    * (token, n), the sanity table a tokenizer rollout checks.
    */
  def bpeSegmentCounts(df: DataFrame, textCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    val syms0 = expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    val symsN = merges.foldLeft(syms0) { case (s, (a, b)) => applyMerge(s, a, b) }
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("__cnt"))
      .select(explode(symsN).as("token"), col("__cnt"))
      .groupBy("token").agg(sum(col("__cnt")).as("n"))
  }

  /** Per-group tokenizer fertility — the standard multilingual
    * tokenizer-equity report (how many subword pieces a language pays
    * per word, and how many characters each piece carries; languages
    * the vocabulary underserves show high fertility and get
    * over-tokenized, wasting context budget). For each group value:
    * `(n_words, n_pieces, n_chars, fertility = pieces/word,
    * chars_per_piece)` under the given merge table.
    *
    * Scale shape (the [[bpeSegmentCounts]] collapse, taken one step
    * further): piece count is a pure function of the WORD, so the
    * merge fold runs once per distinct word — never per instance —
    * and instances ride a `(group, word)` count aggregate that joins
    * the per-word piece table on the word. The checkpoint pins the
    * (vocabulary × groups)-sized aggregate against double lineage
    * (it feeds both the distinct-word table and the final join).
    */
  def bpeFertilityByGroup(df: DataFrame, groupCol: String, textCol: String,
                          merges: Seq[(String, String)]): DataFrame = {
    val syms0 = expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    val symsN = merges.foldLeft(syms0) { case (s, (a, b)) => applyMerge(s, a, b) }
    val wl = df
      .select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(groupCol), col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val wp = wl.select("word").distinct()
      .select(col("word"), size(symsN).cast("long").as("np"),
        length(col("word")).cast("long").as("len"))
    wl.join(wp, Seq("word"))
      .groupBy(col(groupCol)).agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("np")).as("n_pieces"),
        sum(col("cnt") * col("len")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast("double") / col("n_words")).as("fertility"),
        (col("n_chars").cast("double") / col("n_pieces"))
          .as("chars_per_piece"))
  }

  /** Interpolated Kneser-Ney bigram language model (Kneser & Ney 1995;
    * Chen & Goodman 1998) — the small-LM artifact n-gram pipelines ship
    * (the KenLM prep shape, one smoothing step further than q103's raw
    * counts). For every OBSERVED bigram:
    * `P(w2|w1) = (c12 - D)/c1 + D·N1+(w1,·)/c1 · (N1+(·,w2)/types)` —
    * absolute discounting plus the continuation-probability backoff
    * that makes KN the default n-gram smoother. Every input is an
    * exact distributed count off ONE aggregated bigram table (three
    * aggregates-of-the-aggregate, the TF-IDF shape); the probability
    * is closed-form IEEE arithmetic in the SQL twin's operand order,
    * rounded at 9 dp. The bigram table is persisted across its four
    * readers and the (vocabulary-sized, not corpus-sized) result is
    * eagerly checkpointed so the cache can drop before returning.
    */
  def knBigramLm(df: DataFrame, idCol: String, textCol: String,
                 discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val pairs = df.select(TextOps.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(posexplode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2))")))
      .select(col("col.w1").as("w1"), col("col.w2").as("w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = big.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("nctx"))
    val types = big.agg(count(lit(1)).as("ntypes"))
    val p = round((col("c12") - lit(discount)) / col("c1")
      + lit(discount) * col("n1p") / col("c1")
        * (col("nctx") / col("ntypes")), 9)
    val out = big.join(left, Seq("w1")).join(cont, Seq("w2")).crossJoin(types)
      .select(col("w1"), col("w2"), col("c12"), p.as("p_kn"))
      .localCheckpoint(true)
    big.unpersist()
    out
  }

  /** Per-document fluency under the corpus's own KN bigram LM: total
    * `-ln P(w2|w1)` over the doc's bigrams plus the bigram count —
    * q114's unigram surprisal upgraded with real context (a shuffled
    * doc keeps its unigram score but its improbable bigrams light up
    * here). Docs under 2 tokens drop out; every doc bigram is observed
    * by construction (the LM is trained on the same corpus).
    *
    * The TOTAL is emitted, not the mean, deliberately: ln is rounded
    * 9 dp per bigram and the per-doc sum runs in exact decimal, so the
    * total is bit-reproducible on any engine — but rounding the
    * quotient total/n lands on a decimal ROUND-TIE for ~1 in 10³ docs
    * (Spark's exact-binary HALF_UP vs a float-multiply `round`
    * disagree by exactly 1e-9; observed on 2 of 5000 docs at sf0.1),
    * and a quotient's tie cannot be pinned from either side. Divide
    * downstream where the last printed digit is presentation, not
    * contract.
    */
  def knSurprisal(df: DataFrame, idCol: String, textCol: String,
                  discount: Double = 0.75): DataFrame = {
    val lm = knBigramLm(df, idCol, textCol, discount)
    val docPairs = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(idCol), posexplode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2))")))
      .select(col(idCol), col("col.w1").as("w1"), col("col.w2").as("w2"))
    docPairs.join(lm.select("w1", "w2", "p_kn"), Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(graft.Exprs.dsum(-round(log(col("p_kn")), 9))
          .as("kn_total_surprisal"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Sparse TF-IDF cosine similarity for an explicit pair list
    * (`id1`, `id2`) — the term-JOIN formulation: the dot product is an
    * equi-join of the weight table with itself on (pair, token), so
    * only SHARED terms ever meet and no dense vector is materialized.
    * That is the representation that survives a 100 TB vocabulary —
    * dense vectors over a 10M-term vocab don't. Pairs with no shared
    * token have dot 0 and drop out (inner-join semantics, documented).
    * Norms aggregate per document in exact decimal; cosine is rounded
    * to 9 dp for cross-engine parity.
    */
  def sparseTfidfCosine(pairs: DataFrame, df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val w = tfidfWeights(df, idCol, textCol)
    val norms = w.groupBy(col(idCol))
      .agg(graft.Exprs.dsum(col("w") * col("w")).as("n2"))
    val dot = pairs
      .join(w.select(col(idCol).as("id1"), col("token"), col("w").as("w1")),
        Seq("id1"))
      .join(w.select(col(idCol).as("id2"), col("token"), col("w").as("w2")),
        Seq("id2", "token"))
      .groupBy(col("id1"), col("id2"))
      .agg(graft.Exprs.dsum(col("w1") * col("w2")).as("dot"))
    dot
      .join(norms.select(col(idCol).as("id1"), col("n2").as("na")), Seq("id1"))
      .join(norms.select(col(idCol).as("id2"), col("n2").as("nb")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 9).as("cosine"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training — Kudo 2018's
    * EM loop in a FIXED-VOCABULARY deterministic variant, completing
    * the tokenizer family next to [[bpeTrain]]:
    *   - seed: every substring of length ≤ `maxPieceLen` of the
    *     distinct-word table with corpus-weighted count ≥ `minCount`,
    *     plus all single characters (coverage guarantee);
    *   - E-step: Viterbi-best segmentation of each DISTINCT word under
    *     the current scores via the native [[graft.functions.UnigramSegment]]
    *     expression (vocabulary as an expression field — the corpus-
    *     size-independent collapse [[bpeTrain]] uses: the DP runs once
    *     per distinct word, never per token instance);
    *   - M-step: re-count pieces from the segmentations (weighted by
    *     word frequency) and re-score
    *     `round(ln((c+1)/(total+|V|))·1e9)` as integer NANO-log-probs.
    * Production unigram-LM also PRUNES the vocabulary by likelihood
    * loss each round; the fixed-vocab variant keeps every seed piece
    * (score updates only) so the whole run is a pure function of the
    * corpus — replayable in SQL by unrolling the EM rounds with a
    * recursive path-enumeration Viterbi (q167/q168).
    *
    * Only vocabulary-sized artifacts ever reach the driver (seed
    * counts, per-round piece counts — the bpeTrain/k-means contract);
    * word tables stay distributed and persisted across rounds. The
    * contract is ENFORCED, not assumed: the seed collect is bounded by
    * `limit(maxSeedPieces + 1)` and a `require` turns an over-sized
    * seed (web-scale corpus + too-low `minCount`) into a clear error
    * instead of a silent driver OOM. Per-round segmentation counts are
    * bounded by the seed size by construction (the segmenter only
    * emits seed pieces).
    *
    * Returns (piece, cnt, score_nanos): final-round Viterbi counts and
    * scores.
    */
  def unigramLmTrain(df: DataFrame, idCol: String, textCol: String,
                     maxPieceLen: Int = 4, minCount: Long = 2,
                     iters: Int = 2,
                     maxSeedPieces: Int = 2000000): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(maxSeedPieces >= 1,
      s"maxSeedPieces must be >= 1, got $maxSeedPieces")
    val spark = df.sparkSession
    val words = df
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val seed = words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  i -> transform(sequence(1, least($maxPieceLen,
           |         length(word) - i + 1)),
           |       l -> substring(word, i, l))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") >= minCount || length(col("piece")) === 1)
      // the seed table is vocabulary-sized by construction, but nothing
      // upstream ENFORCES that — `limit(max+1)` bounds what the driver
      // can ever receive, so a web-scale corpus with a too-low minCount
      // fails with a clear contract error instead of a driver OOM
      .limit(maxSeedPieces + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    require(seed.size <= maxSeedPieces,
      s"unigramLmTrain seed vocabulary exceeds maxSeedPieces=" +
        s"$maxSeedPieces — raise minCount (or maxSeedPieces) so the " +
        "seed stays vocabulary-sized; an unbounded seed would OOM the " +
        "driver at corpus scale")

    val nv = seed.size.toLong
    def rescore(cnts: Map[String, Long]): Map[String, Long] = {
      val total = cnts.values.sum
      cnts.map { case (p, c) =>
        p -> BigDecimal(math.log((c + 1).toDouble / (total + nv))
          * 1000000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .toLong
      }
    }

    var scores = rescore(seed)
    var counts = seed
    for (_ <- 1 to iters) {
      val segCounts = words
        .select(col("cnt"), explode(graft.functions.UnigramSegment.of(
          col("word"), scores, maxPieceLen)).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts = seed.keysIterator
        .map(p => p -> segCounts.getOrElse(p, 0L)).toMap
      scores = rescore(counts)
    }
    words.unpersist()
    import spark.implicits._
    counts.toSeq.sorted
      .map { case (p, c) => (p, c, scores(p)) }
      .toDF("piece", "cnt", "score_nanos")
  }

  /** The decode face of [[unigramLmTrain]]: Viterbi-best segmentation
    * of every distinct corpus word under a trained score table.
    * Returns (word, cnt, segmentation) with the pieces space-joined —
    * exactly the path string whose (cost desc, string asc) order the
    * training tiebreak is defined over.
    */
  def unigramSegmentWords(df: DataFrame, textCol: String,
                          scores: Map[String, Long],
                          maxPieceLen: Int = 4): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        concat_ws(" ", graft.functions.UnigramSegment.of(col("word"),
          scores, maxPieceLen)).as("segmentation"))

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by its hashed-unigram log importance weight under a TARGET
    * distribution vs the full SOURCE corpus, and flag the top-k. The
    * published recipe hashes n-gram features into a FIXED number of
    * buckets so the model's memory is vocab-independent — that is also
    * what makes it the 100 TB shape here: the per-bucket weight table
    * is `buckets` rows regardless of corpus size and broadcasts into
    * the scoring join.
    *
    * Determinism/oracle parity: the token→bucket hash is the portable
    * rolling-hash + multiplicative-mod chain (replayable in ANSI SQL);
    * bucket weights use add-one smoothing with all-INTEGER numerator/
    * denominator products in DECIMAL(38,0) (HUGEINT on the oracle side
    * — BIGINT would wrap past ~3e9 corpus tokens), one double division,
    * ln rounded to 9 dp; per-doc totals accumulate in exact decimal
    * (the q105/q114 pattern). `selected` breaks score ties on
    * doc id.
    *
    * Plan shape: token instances are hash-partitioned by doc id ONCE;
    * the (doc, bucket) term counts, the per-doc score aggregate, and
    * the final window all ride that single exchange (grouping keys are
    * supersets / subsets served by the same partitioning); the bucket
    * count table re-aggregates the term counts (tiny) and the weight
    * table joins back by broadcast.
    *
    * @param isTarget row predicate defining the target distribution
    *                 (e.g. `col("lang") === "en"`)
    */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
                isTarget: Column, buckets: Int = 1021,
                topK: Int = 100, persistInput: Boolean = true): DataFrame = {
    val (scored, tfOpt) =
      dsirScoredTable(df, idCol, textCol, isTarget, buckets, persistInput)
    // Top-K via the distributed exact-rank operator, not a global
    // row_number window: on a trillion-doc corpus the per-document
    // score table IS fact-sized and a no-partition window funnels it
    // through one task. Ranks reads its input three times (cuts /
    // bucket counts / ranked join), so the scored frame — itself a
    // join+agg chain — is eagerly checkpointed first (the operator's
    // documented caller contract); that checkpoint also replaces the
    // old post-window one, so the call count is unchanged.
    // Interleaved A/B vs the superseded window shape
    // (`git checkout c6a12ee && sbt 'runMain graft.AbBench
    // q155_dsir_selection v155_window_topk'`): see COVERAGE.
    val scoredM =
      if (persistInput) scored.localCheckpoint(true) else scored
    val res = graft.operators.Ranks
      .rowNumber(scoredM, "dsir_score", ascending = false,
        tiebreaks = Seq(idCol), out = "__rnk")
      .withColumn("selected", (col("__rnk") <= topK).cast("boolean"))
      .drop("__rnk")
    tfOpt.foreach(_.unpersist())
    res
  }

  /** The per-document `(idCol, n_tokens, dsir_score)` table, selection
    * left to the caller ([[dsirScore]]). Returns the persisted `tf`
    * intermediate (if any) for the caller to unpersist AFTER
    * materializing its selection.
    */
  private def dsirScoredTable(df: DataFrame, idCol: String,
                              textCol: String, isTarget: Column,
                              buckets: Int, persistInput: Boolean)
      : (DataFrame, Option[DataFrame]) = {
    // buckets should be PRIME (default 1021): the bucket hash's last
    // round is multiplicative, and an odd multiplier is a bijection of
    // the low k bits, so a 2^k modulus keeps only the rolling hash's
    // own low bits — tokens whose hashes differ by a multiple of 2^k
    // collide SYSTEMATICALLY (measured: "aa" and "yy" collide mod 64).
    // A prime modulus mixes all bits of the product.
    val b = lit(buckets.toLong)
    val bucket = pmod((graft.functions.RollingHash.of(col("token")) %
      graft.operators.Sample.Prime) * graft.operators.Sample.Mult, b)

    val tf0 = df
      .select(col(idCol), isTarget.as("__tgt"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .withColumn("__b", bucket)
      .repartition(col(idCol))
      .groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(lit(1)).as("n"))
    // tf feeds both the bucket-count pass and the scoring pass; without
    // a persist, the weight subtree (under the broadcast boundary,
    // where AQE's exchange reuse does not reach) re-plans the whole
    // tokenize+hash chain — the heavyHitters single-sourcing lesson.
    // tf is the SMALL intermediate: one row per (doc, distinct bucket),
    // never one per token instance.
    val tf = if (persistInput)
      tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tf0

    val cnt = tf.groupBy("__b").agg(
      sum(col("n")).as("sc"),
      sum(when(col("__tgt"), col("n")).otherwise(lit(0L))).as("tc"))
    // corpus totals via a global window over the ≤`buckets`-row count
    // table: a separate .agg would re-plan the whole count chain as a
    // second subtree (measured: +2 exchanges), where the window is one
    // single-partition pass over rows already in hand
    val all = Window.partitionBy()
    val weights = cnt
      .withColumn("__ts", sum(col("sc")).over(all))
      .withColumn("__tt", sum(col("tc")).over(all))
      .select(col("__b"),
        // products in DECIMAL(38,0): the BIGINT product of two
        // corpus-level token totals wraps silently past ~3e9 tokens.
        // DECIMAL(38,0)→double rounds the exact integer the same way
        // BIGINT→double does (round-to-nearest), so values are
        // unchanged wherever BIGINT didn't wrap.
        round(log(((col("tc") + 1).cast("decimal(38,0)") * (col("__ts") + b))
            .cast("double") /
          ((col("sc") + 1).cast("decimal(38,0)") * (col("__tt") + b))
            .cast("double")), 9).as("__w"))

    val scored = tf.join(broadcast(weights), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_tokens"),
        graft.Exprs.dsum(col("n") * col("__w")).as("dsir_score"))
    (scored, if (persistInput) Some(tf) else None)
  }
}
