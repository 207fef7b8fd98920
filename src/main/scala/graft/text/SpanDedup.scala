package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-document duplicate-SPAN diagnostics — the token-granularity
  * approximation of exact-substring dedup (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better": long
  * repeated substrings across documents are the memorization risk that
  * document-level near-dup misses). A doc that is 40% boilerplate
  * shared with other docs can still score low document Jaccard; this
  * measures exactly that 40%.
  *
  * Definition: a token position of a doc is COVERED when some n-gram
  * window containing it also occurs in at least one OTHER document.
  * `coverage = covered positions / n_tokens`.
  *
  * Scale shape (everything linear in corpus grams, no pair joins):
  *  1. positioned n-grams — a pure projection (tokens held as an
  *     attribute first, so the n-gram lambda does not re-run the regex
  *     split per window — the q72 HOF lesson);
  *  2. cross-doc grams — `groupBy(gram)` keeping `min(doc) != max(doc)`
  *     (the count-distinct-free test for "seen in 2+ docs": one
  *     map-side-combining aggregate, never a distinct over doc ids);
  *  3. semi-join positioned grams against the cross-doc gram set —
  *     equi-join on the gram, both sides already hashed by it;
  *  4. covered positions — explode each surviving window into its n
  *     offsets (bounded ×n blowup of the SURVIVING grams only),
  *     distinct per (doc, position), count per doc;
  *  5. left-join the per-doc token counts so fully-unique docs report
  *     coverage 0.0 rather than dropping out.
  */
object SpanDedup {

  /** Per-doc `(doc, n_tokens, covered, coverage)` for token n-grams of
    * width `n`. Docs with fewer than `n` tokens have no windows and
    * report coverage 0. `coverage` is a single IEEE division of two
    * exact longs — engine-portable with no rounding step.
    */
  def spanDupCoverage(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    val toks = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("n_tokens"))
    val grams = toks
      .select(col(idCol), col("n_tokens"),
        posexplode(TextOps.ngrams(col("__toks"), n)))
      .select(col(idCol), col("pos"), col("col").as("gram"))
    // "occurs in 2+ distinct docs" without a count-distinct: the doc-id
    // extremes differ. One exchange on the gram.
    val crossDoc = grams.groupBy("gram")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("gram")
    val covered = grams
      .join(crossDoc, Seq("gram"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
      .groupBy(idCol).agg(count(lit(1)).as("covered"))
    toks.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        (coalesce(col("covered"), lit(0L)).cast("double") /
          col("n_tokens")).as("coverage"))
  }

  /** The REWRITE built on the diagnostic — Lee et al.'s ExactSubstr
    * dedup at token granularity: duplicated spans are EXCISED from the
    * text instead of gating or dropping whole docs. One canonical copy
    * survives: for each cross-doc n-gram the LOWEST doc id owns it;
    * every position of that gram's windows is removed from every OTHER
    * doc (the owner keeps its copy — removing all copies is the known
    * Lee et al. footgun that deletes common idioms from the corpus
    * entirely).
    * Output per doc: original token count, kept count, and the
    * rewritten text (kept tokens joined by single spaces — a
    * token-normalized rewrite; tokenization is [[TextOps.tokens]]).
    *
    * Scale shape, same family as [[spanDupCoverage]] (no pair joins):
    * gram owners are ONE `groupBy(gram)` with min/max extremes (no
    * count-distinct); removal positions are the surviving windows
    * exploded ×n and distinct'd; the rebuild is a per-doc sort of kept
    * (position, token) rows — doc-bounded memory, grouped on the same
    * doc-id exchange the final join uses. Everything is deterministic
    * (position sort, fixed owner rule), so the whole rewrite —
    * including the reassembled strings — hash-replays in SQL (q135).
    */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    val toks = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("n_tokens"))
    val grams = toks
      .select(col(idCol), posexplode(TextOps.ngrams(col("__toks"), n)))
      .select(col(idCol), col("pos"), col("col").as("gram"))
    val owners = grams.groupBy("gram")
      .agg(min(col(idCol)).as("__owner"), max(col(idCol)).as("__mx"))
      .filter(col("__owner") =!= col("__mx"))
      .select(col("gram"), col("__owner"))
    val removedPos = grams.join(owners, Seq("gram"))
      .filter(col(idCol) =!= col("__owner"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val tokPos = toks
      .select(col(idCol), posexplode(col("__toks")))
      .select(col(idCol), col("pos").as("p"), col("col").as("tok"))
    val kept = tokPos.join(removedPos, Seq(idCol, "p"), "left_anti")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            s => s.getField("tok"))).as("clean_text"))
    toks.select(col(idCol), col("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
