package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.t
import graft.Exprs._
import graft.operators.{Dedup, Quality, Upsert}
import graft.gold.Gold
import graft.bronze.Bronze
import graft.maintenance.Retention
import graft.text.TextOps
import graft.dedup.NearDup
import graft.sim.Similarity
import graft.multimodal.Multimodal
import graft.streaming.{Replay, Streams}

/** Driver contract — one registered query per operator from SURVEY.md §2
  * plus the LLM-pipeline operator families, each with a DuckDB oracle
  * twin where ANSI SQL can express it (rows-only check otherwise).
  *
  * Determinism rules shared by every entry (so the DuckDB hash compare
  * is exact): double sums/averages go through DECIMAL(18,6) per row
  * (order-independent — see graft.Exprs), top-k orderings carry explicit
  * tiebreakers, and no query reads the wall clock.
  */
object SparkEntry {

  type Q = (SparkSession, String) => DataFrame

  private def ts(s: String): Column = to_timestamp(lit(s))

  /** Shared decimal-sum SQL fragment for oracles. */
  private def dsumSql(e: String): String =
    s"CAST(sum(CAST($e AS DECIMAL(18,6))) AS DOUBLE)"

  /** Squared-L2 between two 8-float subvector slices (IVFADC oracle
    * term; `s.sub` is the subquantizer index from the VALUES list).
    */
  private def pqSubTermsSql(a: String, b: String): String =
    (1 to 8).map { i =>
      s"(CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))" +
        s" * (CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))"
    }.mkString("\n      + ")

  /** Squared-L2 between two full 64-float embeddings (oracle term). */
  private def pqFullTermsSql(a: String, b: String): String =
    (1 to 64).map { i =>
      s"(CAST($a.embedding[$i] AS DOUBLE) - CAST($b.embedding[$i] AS DOUBLE))" +
        s" * (CAST($a.embedding[$i] AS DOUBLE) - CAST($b.embedding[$i] AS DOUBLE))"
    }.mkString("\n      + ")

  /** Shared IVFADC replay chain for the ANN oracles (q276/q278): the
    * `cb`(codebook)/`assign`/`probes`/`codes`/`lut`/`adist` CTE stack
    * that re-derives coarse assignment, PQ codes, the per-query LUT,
    * and asymmetric distances in SQL — mirroring
    * [[graft.sim.Pq.ivfPqTopK]] / [[graft.sim.IvfPq.probe]] exactly
    * (portable-hash codebook seeds, nlist=16, m=8, k=16, nprobe=4,
    * query set vec_id < 5). `cbWhere` is the training-population
    * filter (q276 trains on the standing base only — the frozen-
    * codebook lifecycle; q278 trains on the whole corpus — q129's
    * configuration). Ends after `adist`'s close paren; callers append
    * their closing SELECT. Any fix to the replay (tie-break, fold
    * order, probe count) lands HERE, once, for both oracles.
    */
  private def ivfAdcSql(cbWhere: String): String =
    s"""WITH cb AS (
       |  SELECT * FROM (
       |    SELECT row_number() OVER (ORDER BY
       |        ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code,
       |      embedding
       |    FROM embeddings $cbWhere) WHERE code < 16),
       |assign AS (
       |  SELECT vec_id, code AS list_id FROM (
       |    SELECT e.vec_id, cb.code, (${pqFullTermsSql("e", "cb")}) AS cdist
       |    FROM embeddings e CROSS JOIN cb)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, code) = 1),
       |probes AS (
       |  SELECT query_id, list_id FROM (
       |    SELECT q.vec_id AS query_id, cb.code AS list_id,
       |      (${pqFullTermsSql("q", "cb")}) AS cdist
       |    FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN cb)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cdist, list_id) <= 4),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT e.vec_id, s.sub, cb.code,
       |      (${pqSubTermsSql("e", "cb")}) AS dist
       |    FROM embeddings e
       |    CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
       |    CROSS JOIN cb)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, s.sub, cb.code,
       |    (${pqSubTermsSql("q", "cb")}) AS d
       |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
       |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
       |  CROSS JOIN cb),
       |adist AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.d ORDER BY l.sub)),
       |      (a, b) -> a + b) AS adist
       |  FROM codes c
       |  JOIN assign a ON a.vec_id = c.vec_id
       |  JOIN probes p ON p.list_id = a.list_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared winnowing oracle prefix (q251/q252): 4-gram rolling hashes
    * per doc and the w=4 sliding windows — ends after the
    * `wins(doc_id, i, win)` CTE's close paren. Mirrors
    * [[graft.text.Winnow]] exactly (RollingHash fold, clamped
    * whole-doc window for docs shorter than w+k-1 grams).
    */
  private val winnowSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    list_transform(range(len(tk) - 3),
      |      i -> array_to_string(list_slice(tk, i + 1, i + 4), ' '))
      |      AS grams
      |  FROM toks WHERE len(tk) >= 4),
      |h AS (
      |  SELECT doc_id, list_transform(grams, s ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(s, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007)) AS hs
      |  FROM g),
      |wins AS (
      |  SELECT doc_id, i, list_slice(hs, i + 1, i + 4) AS win
      |  FROM h, unnest(range(greatest(len(hs) - 3, 1))) AS u(i))""".stripMargin

  /** Per-vector L2 norm CTE replaying [[graft.sim.Similarity.norm]]'s
    * left-to-right double fold bit-for-bit (q255/q256).
    */
  private val cosFoldSql: String =
    """norms AS (
      |  SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |    (a, x) -> a + x)) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Dot-product fragment between two embedding table aliases, same
    * fold order as [[graft.functions.ArrayDot]].
    */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(64),
       |        i -> CAST($a.embedding[i + 1] AS DOUBLE)
       |          * CAST($b.embedding[i + 1] AS DOUBLE))),
       |      (x, y) -> x + y)""".stripMargin

  /** Shared NB quality-score oracle prefix (q220/q224/q227/q228):
    * Laplace-smoothed token log-odds for the lang='en' split, tf
    * table, and the per-doc decimal-summed evidence — ends after the
    * `sc(doc_id, n_tokens, score)` CTE's close paren; callers append
    * `,\n<more CTEs>` or `\nSELECT ...`. Mirrors
    * QualityClassifier.nbTrain/nbScore exactly (9 dp ln at the term
    * level, DECIMAL(18,6) sums).
    */
  private val nbScoreSql: String =
    """WITH tok AS (
      |  SELECT doc_id, (lang = 'en') AS pos,
      |    unnest(regexp_split_to_array(text, '\s+')) AS token
      |  FROM documents),
      |cnt AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
      |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
      |  CAST(sum(c_neg) AS BIGINT) AS n_neg, count(*) AS v FROM cnt),
      |m AS (SELECT token,
      |  round(ln(((CAST(c_pos AS DOUBLE) + 1) / (n_pos + v)) /
      |           ((CAST(c_neg AS DOUBLE) + 1) / (n_neg + v))), 9) AS w
      |  FROM cnt CROSS JOIN tot),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |    CAST(sum(CAST(tf * w AS DECIMAL(18,6))) AS DOUBLE) AS score
      |  FROM tf JOIN m USING (token) GROUP BY doc_id)""".stripMargin

  /** Shared q189/q190 oracle prefix: token rolling hash → two
    * universal expansions → 60 per-bit ±1 vote sums (the
    * PortableSimHash formula; constants interpolated from the
    * expression object so they can never drift apart). Ends after the
    * `v` CTE's close paren — callers append `\nSELECT ...` or
    * `,\n<more CTEs>`.
    */
  private val simhashPortableSql: String = {
    import graft.functions.PortableSimHash.{A1, A2, B1, B2}
    s"""WITH tok AS (
     |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
     |  FROM documents),
     |th AS (
     |  SELECT doc_id,
     |    list_reduce(list_prepend(CAST(0 AS BIGINT),
     |      list_transform(string_split(t, ''),
     |        c -> CAST(ascii(c) AS BIGINT))),
     |      (a, b) -> (a * 31 + b) % 1000000007) AS h
     |  FROM tok),
     |hx AS (
     |  SELECT doc_id, ($A1 * h + $B1) % 1000000007 AS h1,
     |    ($A2 * h + $B2) % 1000000007 AS h2
     |  FROM th),
     |v AS (
     |  SELECT doc_id, bb.i AS i,
     |    sum((CASE WHEN bb.i < 30 THEN (h1 >> bb.i) & 1
     |      ELSE (h2 >> (bb.i - 30)) & 1 END) * 2 - 1) AS vote
     |  FROM hx CROSS JOIN range(60) bb(i)
     |  GROUP BY 1, 2)""".stripMargin
  }

  /** q167/q168 oracle builder: the unigram-LM EM loop unrolled in SQL.
    * Each round is a recursive path-enumeration Viterbi (every
    * segmentation of each distinct word — compositions with parts ≤ 4,
    * bounded per word) with the (cost desc, path asc) argmax, then a
    * piece recount + integer nano-log-prob rescore. `rounds = 2` ends
    * at the trained (c2, s2); `rounds = 3` adds the decode pass b3.
    */
  private def unigramOracle(finalSelect: String, rounds: Int): String = {
    def viterbi(sc: String, p: String, b: String) =
      s"""$p AS (
         |  SELECT word, 1 AS pos, CAST(0 AS BIGINT) AS cost, '' AS path
         |  FROM words
         |  UNION ALL
         |  SELECT q.word, q.pos + len(s.piece), q.cost + s.nanos,
         |    CASE WHEN q.path = '' THEN s.piece
         |         ELSE q.path || ' ' || s.piece END
         |  FROM $p q JOIN $sc s
         |    ON substr(q.word, q.pos, len(s.piece)) = s.piece
         |  WHERE q.pos <= len(q.word)),
         |$b AS (
         |  SELECT word, path FROM (
         |    SELECT w.word, q.path,
         |      row_number() OVER (PARTITION BY w.word
         |        ORDER BY q.cost DESC, q.path ASC) AS rn
         |    FROM words w JOIN $p q
         |      ON q.word = w.word AND q.pos = len(w.word) + 1)
         |  WHERE rn = 1)"""
    def recount(b: String, c: String) =
      s"""$c AS (
         |  SELECT v.piece, CAST(coalesce(sum(sg.cnt), 0) AS BIGINT) AS cnt
         |  FROM vocab v LEFT JOIN (
         |    SELECT unnest(string_split(path, ' ')) AS piece, w.cnt
         |    FROM $b JOIN words w USING (word)) sg ON sg.piece = v.piece
         |  GROUP BY v.piece)"""
    def score(c: String, sNew: String) =
      s"""$sNew AS (
         |  SELECT piece, CAST(round(ln(CAST(cnt + 1 AS DOUBLE)
         |      / (total + nv)) * 1000000000.0, 0) AS BIGINT) AS nanos
         |  FROM $c CROSS JOIN (
         |    SELECT CAST(sum(cnt) AS BIGINT) AS total,
         |      CAST(count(*) AS BIGINT) AS nv FROM $c) t)"""
    val em = Seq(
      viterbi("s0", "p1", "b1"), recount("b1", "c1"), score("c1", "s1"),
      viterbi("s1", "p2", "b2"), recount("b2", "c2"), score("c2", "s2")) ++
      (if (rounds >= 3) Seq(viterbi("s2", "p3", "b3")) else Nil)
    s"""WITH RECURSIVE
       |tok AS (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
       |        FROM documents),
       |words AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tok
       |          WHERE word <> '' GROUP BY 1),
       |seedraw AS (
       |  SELECT substr(word, i, l) AS piece, cnt
       |  FROM words,
       |    UNNEST(range(1, len(word) + 1)) AS u(i),
       |    UNNEST(range(1, 5)) AS v(l)
       |  WHERE i + l <= len(word) + 1),
       |seed AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
       |         FROM seedraw GROUP BY 1),
       |vocab AS (SELECT piece, cnt FROM seed
       |          WHERE cnt >= 2 OR len(piece) = 1),
       |${score("vocab", "s0")},
       |${em.mkString(",\n")}
       |$finalSelect""".stripMargin
  }
  private def vioSql(cond: String): String =
    s"CAST(coalesce(sum(CASE WHEN $cond THEN 1 ELSE 0 END), 0) AS BIGINT)"

  /** BPE oracle builders (q143/q144): weighted adjacent-pair counts of
    * a symbol-table CTE, and the greedy left-to-right merge rewrite —
    * the exact SQL twins of Vocab.bpeTrain's pair aggregate and
    * Vocab.applyMerge's catalyst fold.
    */
  private def bpePairsSql(src: String): String =
    s"""SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT cnt,
       |      unnest([syms[i] FOR i IN range(1, len(syms))]) AS l,
       |      unnest([syms[i + 1] FOR i IN range(1, len(syms))]) AS r
       |    FROM $src) GROUP BY 1, 2""".stripMargin
  private def bpeApplySql(src: String, m: String): String =
    s"""SELECT $src.word, $src.cnt, list_reduce(
       |    list_prepend(CAST([] AS VARCHAR[]), list_transform($src.syms, s -> [s])),
       |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $m.l AND x[1] = $m.r
       |      THEN list_append(acc[1:len(acc)-1], $m.l || $m.r)
       |      ELSE list_append(acc, x[1]) END) AS syms
       |  FROM $src CROSS JOIN $m""".stripMargin
  /** KN bigram LM oracle chain (q149/q150): aggregated bigram table +
    * the three aggregates-of-the-aggregate + the closed-form smoothed
    * probability. Literals are CAST to DOUBLE because DuckDB types a
    * bare 0.75 as DECIMAL(3,2) and decimal arithmetic diverges from
    * Spark's double math beyond the 9 dp round.
    */
  private val knLmSql: String =
    """d AS (SELECT regexp_split_to_array(text, '\s+') AS t FROM documents
       |  WHERE len(regexp_split_to_array(text, '\s+')) >= 2),
       |pr AS (SELECT unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
       |              unnest([t[i + 1] FOR i IN range(1, len(t))]) AS w2 FROM d),
       |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM pr GROUP BY 1, 2),
       |lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |               CAST(count(*) AS BIGINT) AS n1p FROM big GROUP BY 1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nctx
       |         FROM big GROUP BY 1),
       |ty AS (SELECT CAST(count(*) AS BIGINT) AS ntypes FROM big),
       |lm AS (
       |  SELECT w1, w2, c12,
       |    round((c12 - CAST(0.75 AS DOUBLE)) / c1
       |      + CAST(0.75 AS DOUBLE) * n1p / c1 * (nctx / ntypes), 9) AS p_kn
       |  FROM big JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN ty)""".stripMargin

  /** Shared CTE chain: tok/w/s0 then (p_i, m_{i+1}, s_{i+1}) per merge. */
  private def bpeChainSql(nMerges: Int): String = {
    val base = s"""WITH tok AS (
       |  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
       |  FROM documents),
       |w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok WHERE word <> '' GROUP BY 1),
       |s0 AS (SELECT word, cnt,
       |  [substr(word, i, 1) FOR i IN range(1, len(word) + 1)] AS syms FROM w)""".stripMargin
    val steps = (0 until nMerges).map { i =>
      s"""p$i AS (${bpePairsSql(s"s$i")}),
         |m${i + 1} AS (SELECT l, r, c FROM p$i
         |  QUALIFY row_number() OVER (ORDER BY c DESC, l, r) = 1),
         |s${i + 1} AS (${bpeApplySql(s"s$i", s"m${i + 1}")})""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Unrolled PageRank oracle: `iters` power-iteration rounds over the
    * `e0` edge SQL, each round the exact q145 construction (per-edge
    * r/outdeg summed in DECIMAL(30,15), rank update in the Spark
    * operand order) — both engines run identical IEEE ops per round,
    * so depth composes without drift. Shared by q145 (2 rounds) and
    * q191 (6 rounds, the checkpoint-grade pre-partitioned shape).
    */
  private def pageRankChainSql(iters: Int, e0: String): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id,
         |    CAST(sum(CAST(r.r / o.od AS DECIMAL(30,15))) AS DOUBLE) AS m
         |  FROM e0 e JOIN r${i - 1} r ON r.id = e.src
         |    JOIN outd o ON o.src = e.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT nd.id, (1.0 - 0.85) / nn + 0.85 * coalesce(c$i.m, 0.0) AS r
         |  FROM nodes nd CROSS JOIN n LEFT JOIN c$i ON c$i.id = nd.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($e0),
       |nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od
       |  FROM e0 GROUP BY 1),
       |r0 AS (SELECT id, 1.0 / nn AS r FROM nodes CROSS JOIN n),
       |$rounds
       |SELECT id, round(r, 9) AS rank FROM r$iters""".stripMargin
  }

  /** Oracle twin of [[graft.operators.BradleyTerry.fit]]: unrolled MM
    * rounds (the pageRankChainSql discipline — exact DECIMAL(30,15)
    * sums for every order-dependent accumulation, IEEE steps in the
    * Spark side's operand order, 9 dp round only at the end).
    */
  private def btChainSql(iters: Int, winsSql: String): String = {
    // u/p MATERIALIZED: each is referenced twice (normalizer + division;
    // both endpoint joins of the next round) — inlined CTEs would
    // re-evaluate every inner round once per reference, exponentially
    // (the exact blowup the Spark side's per-round checkpoint cuts)
    val rounds = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT c.a AS id,
         |    CAST(sum(CAST(c.n / (pa.p + pb.p) AS DECIMAL(30,15))) AS DOUBLE) AS dv
         |  FROM comp c JOIN p${i - 1} pa ON pa.id = c.a
         |    JOIN p${i - 1} pb ON pb.id = c.b
         |  GROUP BY 1),
         |u$i AS MATERIALIZED (
         |  SELECT d.id, coalesce(w.wi, 0) / d.dv AS up
         |  FROM d$i d LEFT JOIN wtot w ON w.id = d.id),
         |s$i AS (SELECT CAST(sum(CAST(up AS DECIMAL(30,15))) AS DOUBLE) AS sv
         |  FROM u$i),
         |p$i AS MATERIALIZED (SELECT id, up / sv AS p FROM u$i CROSS JOIN s$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH wins0 AS MATERIALIZED ($winsSql),
       |wins AS (SELECT winner, loser, CAST(count(*) AS BIGINT) AS w
       |  FROM wins0 WHERE winner <> loser GROUP BY 1, 2),
       |comp AS (SELECT a, b, CAST(sum(w) AS BIGINT) AS n FROM (
       |    SELECT winner AS a, loser AS b, w FROM wins
       |    UNION ALL SELECT loser AS a, winner AS b, w FROM wins)
       |  GROUP BY 1, 2),
       |items AS (SELECT DISTINCT a AS id FROM comp),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM items),
       |wtot AS (SELECT winner AS id, CAST(sum(w) AS BIGINT) AS wi
       |  FROM wins GROUP BY 1),
       |p0 AS (SELECT id, 1.0 / nn AS p FROM items CROSS JOIN n),
       |$rounds
       |SELECT id, round(p, 9) AS strength FROM p$iters""".stripMargin
  }

  /** SQL twins of the [[graft.text.Html]] chain, built with the same
    * fold order (shared by q236 and the q242 E2E build).
    */
  private def htmlDropSql(e: String, tags: Seq[String]): String =
    tags.foldLeft(e)((acc, t) =>
      s"regexp_replace($acc, '(?s)<$t(>|\\s[^>]*>).*?</$t>', ' ', 'g')")
  private def htmlEntWsSql(e: String): String = {
    val stripped = s"regexp_replace($e, '<[^>]*>', ' ', 'g')"
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(stripped)((acc, p) =>
        s"regexp_replace($acc, '${p._1}', '${p._2}', 'g')")
    s"trim(regexp_replace($ent, '\\s+', ' ', 'g'))"
  }
  private def htmlCleanSql(e: String): String =
    htmlEntWsSql(htmlDropSql(e, Seq("script", "style", "head", "nav",
      "footer", "header", "aside")))
  private def htmlPageSql(e: String): String =
    htmlEntWsSql(htmlDropSql(e, Seq("script", "style", "head")))

  /** Oracle twin of [[graft.text.TextOps.lexicalStats]] as a WITH
    * fragment ending in CTE `lexstats(doc_id, n_tokens, n_types,
    * ttr_ppm, entropy)` — shared by q240 and the q247 data card.
    */
  private val lexStatsSql: String =
    """tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
      |  FROM documents),
      |cw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS n_types
      |  FROM cw GROUP BY 1),
      |lexstats AS (
      |  SELECT cw.doc_id, n_tokens, n_types,
      |    n_types * 1000000 // n_tokens AS ttr_ppm,
      |    round(CAST(sum(CAST(
      |        (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      |        * round(ln(CAST(n_tokens AS DOUBLE) / CAST(c AS DOUBLE)), 9)
      |      AS DECIMAL(30,15))) AS DOUBLE), 9) AS entropy
      |  FROM cw JOIN tot USING (doc_id)
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is", "it")

  /** Oracle fragment: per-language marker-hit scores from `documents`
    * (mirrors [[TextOps.langScoresToks]]); shared by q43 and q74.
    */
  private def langScoresSql: String = {
    val scores = TextOps.LangMarkers.map { case (lang, words) =>
      s""" CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |   w -> w IN (${words.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS score_$lang""".stripMargin
    }.mkString(",\n")
    s"SELECT doc_id, text,\n$scores\nFROM documents"
  }

  /** Oracle fragment: arg-max language with the deterministic tie order
    * of [[TextOps.langIdFromScores]]; expects score_* columns in scope.
    */
  private def langIdCaseSql: String = {
    val langs = TextOps.LangMarkers.map(_._1)
    val caseArms = langs.init.map { lang =>
      val conds = langs.filterNot(_ == lang)
        .map(o => s"score_$lang >= score_$o").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"CASE $caseArms ELSE '${langs.last}' END"
  }

  private val dailyRevenueSelect =
    s"""CAST(ts AS DATE) AS event_date, count(*) AS events_count,
       | ${dsumSql("value")} AS total_value,
       | ${dsumSql("value")} / count(*) AS avg_value,
       | count(DISTINCT user_id) AS unique_users""".stripMargin

  // ---- registry: (name, implementation, oracle SQL if expressible) ----
  private val registry: Seq[(String, Q, Option[String])] = Seq(

    // === aggregations (A1-A10) ==========================================

    ("q01_pricing_summary", (s, d) => {
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(disc).as("sum_disc_price"),
          dsum(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }, Some(s"""SELECT l_returnflag, l_linestatus,
       | ${dsumSql("l_quantity")} AS sum_qty,
       | ${dsumSql("l_extendedprice")} AS sum_base_price,
       | ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       | ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       | ${dsumSql("l_quantity")} / count(*) AS avg_qty,
       | ${dsumSql("l_extendedprice")} / count(*) AS avg_price,
       | ${dsumSql("l_discount")} / count(*) AS avg_disc,
       | count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    ("q08_daily_revenue", (s, d) =>
      Gold.dailyRevenue(t(s, d, "events"), "ts", "user_id", "value"),
      Some(s"SELECT $dailyRevenueSelect FROM events GROUP BY 1")),

    ("q09_product_catalog", (s, d) =>
      Gold.productCatalog(t(s, d, "part"), "p_brand", "p_retailprice"),
      Some(s"""SELECT p_brand, count(*) AS product_count,
         | min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
         | ${dsumSql("p_retailprice")} / count(*) AS avg_price
         |FROM part GROUP BY p_brand""".stripMargin)),

    ("q10_finance_kpis", (s, d) =>
      Gold.financeKpis(
        t(s, d, "orders").filter(
          col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00")),
        "o_totalprice"),
      Some(s"""SELECT ${dsumSql("o_totalprice")} AS total_revenue,
         | ${dsumSql("o_totalprice")} / count(*) AS avg_order_value,
         | count(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin)),

    ("q11_sales_kpis", (s, d) => {
      val o = t(s, d, "orders").filter(
        col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
        col("o_orderdate") < ts("1998-01-01 00:00:00"))
      o.agg(count(lit(1)).as("orders_1997"),
          countDistinct(col("o_custkey")).as("unique_customers_1997"))
        .crossJoin(t(s, d, "part").agg(count(lit(1)).as("product_count")))
        .crossJoin(t(s, d, "supplier").agg(count(lit(1)).as("supplier_count")))
    }, Some("""SELECT
       | (SELECT count(*) FROM orders
       |   WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |     AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') AS orders_1997,
       | (SELECT count(DISTINCT o_custkey) FROM orders
       |   WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |     AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') AS unique_customers_1997,
       | (SELECT count(*) FROM part) AS product_count,
       | (SELECT count(*) FROM supplier) AS supplier_count""".stripMargin)),

    ("q12_ops_kpis", (s, d) =>
      t(s, d, "events").agg(
          count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"),
          sum(when(col("event_type") === "purchase", col("value").cast(Money)))
            .cast("double").as("sp"))
        .select(
          (col("np").cast("double") / col("n")).as("purchase_rate"),
          (col("ne").cast("double") / col("n")).as("error_rate"),
          coalesce(when(col("np") > 0, col("sp") / col("np")), lit(0.0))
            .as("avg_purchase_value")),
      Some("""SELECT CAST(np AS DOUBLE) / n AS purchase_rate,
         | CAST(ne AS DOUBLE) / n AS error_rate,
         | coalesce(CASE WHEN np > 0 THEN sp / np END, 0.0) AS avg_purchase_value
         |FROM (SELECT count(*) AS n,
         |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
         |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ne,
         |  CAST(sum(CASE WHEN event_type = 'purchase'
         |           THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sp
         | FROM events)""".stripMargin)),

    ("q13_top_events", (s, d) =>
      t(s, d, "events").groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("event_type")).limit(3),
      Some("""SELECT event_type, count(*) AS cnt FROM events
         |GROUP BY event_type ORDER BY cnt DESC, event_type LIMIT 3""".stripMargin)),

    ("q14_date_histogram", (s, d) =>
      t(s, d, "events").groupBy(to_date(col("ts")).as("event_date"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_date").desc).limit(10),
      Some("""SELECT CAST(ts AS DATE) AS event_date, count(*) AS cnt FROM events
         |GROUP BY 1 ORDER BY event_date DESC LIMIT 10""".stripMargin)),

    ("q15_stats_summary", (s, d) =>
      t(s, d, "documents").agg(
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        percentile(col("n_chars"), lit(0.5)).as("median_chars")),
      Some("""SELECT min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         | CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
         | quantile_cont(n_chars, 0.5) AS median_chars
         |FROM documents""".stripMargin)),

    ("q16_value_counts", (s, d) =>
      t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("cnt")),
      Some("SELECT lang, count(*) AS cnt FROM documents GROUP BY lang")),

    // === dedup (D1-D3) ==================================================

    ("q02_dedup_keep_latest", (s, d) =>
      Dedup.keepLatest(t(s, d, "events"), Seq("user_id"), "ts",
          Seq(col("event_id").desc))
        .select("user_id", "event_id", "event_type", "value", "ts"),
      Some("""SELECT user_id, event_id, event_type, value, ts FROM events
         |QUALIFY row_number() OVER
         | (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)),

    ("q03_dedup_keep_earliest", (s, d) =>
      Dedup.keepEarliest(t(s, d, "events"), Seq("user_id"), "ts",
          Seq(col("event_id").asc))
        .select("user_id", "event_id", "event_type", "value", "ts"),
      Some("""SELECT user_id, event_id, event_type, value, ts FROM events
         |QUALIFY row_number() OVER
         | (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1""".stripMargin)),

    ("q04_distinct_rows", (s, d) =>
      Dedup.distinctRows(
        t(s, d, "orders").select("o_orderstatus", "o_orderpriority")),
      Some("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders")),

    // === upsert / merge (S9, S10, J2, J3) ===============================

    ("q05_upsert_merge", (s, d) => {
      val orders = t(s, d, "orders")
      val updates = orders.filter(col("o_custkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      Upsert.merge(orders, updates, Seq("o_orderkey"))
    }, Some("""WITH upd AS (
       | SELECT o_orderkey, o_custkey, o_orderstatus,
       |        o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
       | FROM orders WHERE o_custkey % 10 = 0)
       |SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
       |UNION ALL BY NAME SELECT * FROM upd""".stripMargin)),

    ("q06_upsert_by_date", (s, d) => {
      val ev = t(s, d, "events")
      val mart = Gold.dailyRevenue(
        ev.filter(col("event_type") =!= "error"), "ts", "user_id", "value")
      val daily = Gold.dailyRevenue(
        ev.filter(to_date(col("ts")) >= lit("2024-01-10").cast("date")),
        "ts", "user_id", "value")
      Upsert.merge(mart, daily, Seq("event_date"))
    }, Some(s"""WITH mart AS (
       | SELECT $dailyRevenueSelect FROM events WHERE event_type <> 'error' GROUP BY 1),
       |daily AS (
       | SELECT $dailyRevenueSelect FROM events
       | WHERE CAST(ts AS DATE) >= DATE '2024-01-10' GROUP BY 1)
       |SELECT * FROM mart WHERE event_date NOT IN (SELECT event_date FROM daily)
       |UNION ALL BY NAME SELECT * FROM daily""".stripMargin)),

    // === joins (J1) =====================================================

    ("q07_user_activity", (s, d) =>
      Gold.userActivity(
        t(s, d, "customer").select("c_custkey", "c_name"),
        t(s, d, "orders").withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey", "o_orderkey", "o_totalprice", "o_orderdate"),
      Some(s"""SELECT c_custkey, c_name,
         | count(DISTINCT o_orderkey) AS order_count,
         | ${dsumSql("coalesce(o_totalprice, 0)")} AS total_spend,
         | max(o_orderdate) AS last_order_ts
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey, c_name""".stripMargin)),

    ("q60_range_join", (s, d) => {
      // events falling inside each low-id user's first active week —
      // containment match via time-bucket equi-join, never a cross product
      val ev = t(s, d, "events")
      val intervals = ev.filter(col("user_id") < 20)
        .groupBy(col("user_id").as("interval_user"))
        .agg(min(col("ts")).as("start_ts"))
        .withColumn("end_ts", col("start_ts") + expr("INTERVAL 7 DAYS"))
      graft.operators.RangeJoin.pointInInterval(
          ev.select(col("event_id"), col("ts")), intervals,
          "ts", "start_ts", "end_ts")
        .select("interval_user", "event_id")
    }, Some("""WITH intervals AS (
       | SELECT user_id AS interval_user, min(ts) AS start_ts,
       |        min(ts) + INTERVAL 7 DAY AS end_ts
       | FROM events WHERE user_id < 20 GROUP BY user_id)
       |SELECT i.interval_user, e.event_id
       |FROM intervals i JOIN events e
       |  ON e.ts >= i.start_ts AND e.ts < i.end_ts""".stripMargin)),

    ("q59_asof_join", (s, d) => {
      // join each event to the user's most recent end-of-day snapshot
      // at-or-before the event time
      val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value", "ts")
      val daySnaps = Dedup.keepFirstBy(
          ev.withColumn("__day", to_date(col("ts"))),
          Seq("user_id", "__day"), Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("ts").as("snap_ts"), col("value").as("snap_value"))
      graft.operators.AsOfJoin.asOf(ev, daySnaps, Seq("user_id"), "ts", "snap_ts")
    }, Some("""WITH snaps AS (
       | SELECT user_id, ts AS snap_ts, value AS snap_value FROM events
       | QUALIFY row_number() OVER
       |   (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC) = 1)
       |SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts,
       |       s.snap_ts, s.snap_value
       |FROM events e ASOF LEFT JOIN snaps s
       |  ON e.user_id = s.user_id AND e.ts >= s.snap_ts""".stripMargin)),

    // === quality predicates (V1-V12) ====================================

    ("q17_quality_events", (s, d) =>
      t(s, d, "events").agg(
        Quality.nullCheck("user_id"),
        Quality.negativeCheck("value"),
        Quality.rangeCheck("value", 500),
        Quality.domainCheck("event_type", Seq("click", "view", "purchase", "signup")),
        Quality.formatCheck("event_type", "^[a-z]+$")),
      Some(s"""SELECT
         | ${vioSql("user_id IS NULL")} AS null_user_id,
         | ${vioSql("value < 0")} AS negative_value,
         | ${vioSql("value > 500")} AS range_value,
         | ${vioSql("event_type IS NOT NULL AND event_type NOT IN ('click','view','purchase','signup')")} AS domain_event_type,
         | ${vioSql("event_type IS NOT NULL AND NOT regexp_matches(event_type, '^[a-z]+$$')")} AS format_event_type
         |FROM events""".stripMargin)),

    ("q18_quality_docs", (s, d) =>
      t(s, d, "documents").agg(
        Quality.nullCheck("text"),
        Quality.formatCheck("source", "^src[0-9]+$"),
        Quality.domainCheck("lang", Seq("en", "fr", "es", "de", "zh")),
        Quality.rangeCheck("n_chars", 100000)),
      Some(s"""SELECT
         | ${vioSql("text IS NULL")} AS null_text,
         | ${vioSql("source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$$')")} AS format_source,
         | ${vioSql("lang IS NOT NULL AND lang NOT IN ('en','fr','es','de','zh')")} AS domain_lang,
         | ${vioSql("n_chars > 100000")} AS range_n_chars
         |FROM documents""".stripMargin)),

    ("q19_duplicate_keys", (s, d) =>
      Quality.duplicateKeys(t(s, d, "events"), Seq("user_id")),
      Some("""SELECT user_id, count(*) AS dup_count FROM events
         |GROUP BY user_id HAVING count(*) > 1""".stripMargin)),

    ("q34_quality_suite", (s, d) =>
      t(s, d, "events")
        .agg(Quality.nullCheck("user_id"), Quality.negativeCheck("value"),
          Quality.rangeCheck("value", 500))
        .select(expr(
          """stack(3,
            | 'null_user_id', null_user_id,
            | 'negative_value', negative_value,
            | 'range_value', range_value) AS (check_name, violations)""".stripMargin)),
      Some(s"""WITH a AS (SELECT
         | ${vioSql("user_id IS NULL")} AS null_user_id,
         | ${vioSql("value < 0")} AS negative_value,
         | ${vioSql("value > 500")} AS range_value FROM events)
         |SELECT 'null_user_id' AS check_name, null_user_id AS violations FROM a
         |UNION ALL SELECT 'negative_value', negative_value FROM a
         |UNION ALL SELECT 'range_value', range_value FROM a""".stripMargin)),

    // === silver entity transforms (transform_silver.py semantics over
    // === adapted testdata frames) =======================================

    ("q35_silver_products", (s, d) => {
      val bronze = t(s, d, "events").select(
        col("user_id").as("id"),
        concat(lit("P-"), col("user_id").cast("string")).as("title"),
        col("value").as("price"),
        col("event_type").as("category"),
        col("ts").as("_ingestion_timestamp"))
      graft.silver.Silver.products(bronze)
    }, Some("""WITH b AS (
       | SELECT user_id AS id, 'P-' || CAST(user_id AS VARCHAR) AS title,
       |        value AS price, event_type AS category, ts AS _ingestion_timestamp
       | FROM events),
       |d AS (SELECT * FROM b QUALIFY row_number() OVER
       |  (PARTITION BY id ORDER BY _ingestion_timestamp DESC, id DESC) = 1)
       |SELECT DISTINCT CAST(id AS BIGINT) AS product_id, title,
       |  CAST(price AS DOUBLE) AS price, category,
       |  coalesce(price > 0, false) AS is_available,
       |  _ingestion_timestamp AS last_updated
       |FROM d""".stripMargin)),

    ("q36_silver_carts", (s, d) => {
      val bronze = t(s, d, "events").select(
        col("user_id").as("id"),
        col("user_id").as("userId"),
        col("value").as("total"),
        (col("value") * 0.75).as("discountedTotal"),
        col("ts").as("_ingestion_timestamp"))
      graft.silver.Silver.carts(bronze)
    }, Some("""WITH b AS (
       | SELECT user_id AS id, user_id AS userId, value AS total,
       |        value * 0.75 AS discountedTotal, ts AS _ingestion_timestamp
       | FROM events),
       |d AS (SELECT * FROM b QUALIFY row_number() OVER
       |  (PARTITION BY id ORDER BY _ingestion_timestamp DESC, id DESC) = 1)
       |SELECT DISTINCT CAST(id AS BIGINT) AS cart_id, CAST(userId AS BIGINT) AS user_id,
       |  CAST(total AS DOUBLE) AS total_value,
       |  CASE WHEN total > 0 THEN round((total - discountedTotal) / total * 100, 2)
       |       ELSE 0.0 END AS discount_percentage,
       |  _ingestion_timestamp AS last_updated
       |FROM d""".stripMargin)),

    ("q37_silver_users", (s, d) => {
      val bronze = t(s, d, "customer").select(
        col("c_custkey").as("id"),
        concat(lit("u"), (col("c_custkey") % 50).cast("string"), lit("@x.com")).as("email"),
        col("c_name").as("firstname"),
        col("c_mktsegment").as("lastname"),
        timestamp_micros(col("c_custkey") * lit(1000000L)).as("_ingestion_timestamp"))
      graft.silver.Silver.users(bronze)
    }, Some("""WITH b AS (
       | SELECT c_custkey AS id,
       |        'u' || CAST(c_custkey % 50 AS VARCHAR) || '@x.com' AS email,
       |        c_name AS firstname, c_mktsegment AS lastname,
       |        make_timestamp(CAST(c_custkey AS BIGINT) * 1000000) AS _ingestion_timestamp
       | FROM customer),
       |n AS (SELECT id, lower(trim(email)) AS email, firstname, lastname,
       |             _ingestion_timestamp FROM b),
       |d AS (SELECT * FROM n QUALIFY row_number() OVER
       |  (PARTITION BY email ORDER BY _ingestion_timestamp DESC, email DESC) = 1)
       |SELECT DISTINCT CAST(id AS BIGINT) AS user_id, email,
       |  trim(concat_ws(' ', firstname, lastname)) AS full_name,
       |  _ingestion_timestamp AS last_updated
       |FROM d""".stripMargin)),

    ("q38_silver_orders", (s, d) => {
      val bronze = t(s, d, "orders").select(
        (col("o_orderkey") % 1000).as("id"),
        col("o_custkey").as("userId"),
        col("o_totalprice").as("total_amount"),
        when(col("o_orderstatus") === "F", col("o_totalprice") * 0.9).as("final_amount"),
        timestamp_micros(col("o_orderkey") * lit(1000000L)).as("_ingestion_timestamp"))
      graft.silver.Silver.orders(bronze)
    }, Some("""WITH b AS (
       | SELECT o_orderkey % 1000 AS id, o_custkey AS userId,
       |        o_totalprice AS total_amount,
       |        CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.9 END AS final_amount,
       |        make_timestamp(CAST(o_orderkey AS BIGINT) * 1000000) AS _ingestion_timestamp
       | FROM orders),
       |d AS (SELECT * FROM b QUALIFY row_number() OVER
       |  (PARTITION BY id ORDER BY _ingestion_timestamp DESC, id DESC) = 1)
       |SELECT DISTINCT CAST(id AS BIGINT) AS order_id, CAST(userId AS BIGINT) AS user_id,
       |  CAST(total_amount AS DOUBLE) AS total_amount,
       |  CAST(coalesce(final_amount, total_amount) AS DOUBLE) AS final_amount,
       |  _ingestion_timestamp AS last_updated
       |FROM d""".stripMargin)),

    // === projections / per-row transforms (P1-P14) ======================

    ("q20_flatten_props", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k")),
      Some("""SELECT event_id,
         | CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
         |FROM events""".stripMargin)),

    ("q21_to_json_payload", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        to_json(struct(col("user_id"), col("event_type"))).as("payload")),
      Some("""SELECT event_id,
         | to_json(struct_pack(user_id := user_id, event_type := event_type)) AS payload
         |FROM events""".stripMargin)),

    ("q22_string_normalize", (s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        lower(trim(col("c_name"))).as("norm_name"),
        trim(concat_ws(" ", col("c_mktsegment"), col("c_name"))).as("label"),
        regexp_replace(col("c_name"), "[^0-9]", "").as("digits")),
      Some("""SELECT c_custkey, lower(trim(c_name)) AS norm_name,
         | trim(concat_ws(' ', c_mktsegment, c_name)) AS label,
         | regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
         |FROM customer""".stripMargin)),

    ("q23_binning", (s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"), col("c_acctbal"),
        when(col("c_acctbal") < 0, "debt")
          .when(col("c_acctbal") < 1000, "low")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("balance_band")),
      Some("""SELECT c_custkey, c_acctbal,
         | CASE WHEN c_acctbal < 0 THEN 'debt'
         |      WHEN c_acctbal < 1000 THEN 'low'
         |      WHEN c_acctbal < 5000 THEN 'mid'
         |      ELSE 'high' END AS balance_band
         |FROM customer""".stripMargin)),

    ("q24_date_trunc", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        to_date(col("ts")).as("event_date"),
        date_trunc("day", col("ts")).as("day_ts")),
      Some("""SELECT event_id, CAST(ts AS DATE) AS event_date,
         | CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts
         |FROM events""".stripMargin)),

    ("q25_monetary_round", (s, d) =>
      // rounding happens in DECIMAL(18,2) (exact HALF_UP money semantics),
      // but the emitted column is its canonical string: Spark's decimal
      // parquet encoding (fixed-len byte array) hashes differently from
      // DuckDB's even when every value matches, so the dump must carry a
      // representation both engines spell identically
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast(DecimalType(18, 2)).cast("string").as("price_2dp")),
      Some("""SELECT l_orderkey, l_linenumber,
         | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_2dp
         |FROM lineitem""".stripMargin)),

    ("q26_safe_division", (s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        when(col("l_extendedprice") > 0,
          col("l_extendedprice") * col("l_discount") / col("l_extendedprice") * lit(100.0))
          .otherwise(0.0).as("discount_pct")),
      Some("""SELECT l_orderkey, l_linenumber,
         | CASE WHEN l_extendedprice > 0
         |      THEN l_extendedprice * l_discount / l_extendedprice * 100.0
         |      ELSE 0.0 END AS discount_pct
         |FROM lineitem""".stripMargin)),

    ("q27_metadata_cols", (s, d) =>
      Bronze.withIngestMeta(t(s, d, "events").select("event_id", "ts"),
        "synthetic_api", "events", "events_raw", ts("2024-02-01 00:00:00")),
      Some("""SELECT event_id, ts,
         | TIMESTAMP '2024-02-01 00:00:00' AS _ingestion_timestamp,
         | 'synthetic_api' AS _source_name, 'events' AS _endpoint,
         | 'events_raw' AS _table_name
         |FROM events""".stripMargin)),

    ("q28_union_endpoints", (s, d) => {
      val ev = t(s, d, "events")
      Bronze.unionEndpoints(Seq(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "event_type"),
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "value", "event_type")))
    }, Some("""SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'
       |UNION ALL BY NAME
       |SELECT event_id, value, event_type FROM events WHERE event_type = 'purchase'""".stripMargin)),

    ("q32_cast_project", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").cast("string").as("customer_ref"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_totalprice").cast("double").as("total")),
      Some("""SELECT o_orderkey AS order_id, CAST(o_custkey AS VARCHAR) AS customer_ref,
         | CAST(o_orderdate AS DATE) AS order_date,
         | CAST(o_totalprice AS DOUBLE) AS total
         |FROM orders""".stripMargin)),

    ("q33_drop_all_null", (s, d) =>
      t(s, d, "events").select(col("event_id"),
          when(col("event_type") =!= "error", col("event_type")).as("et"),
          when(col("event_type") =!= "error", col("value")).as("v"))
        .na.drop("all", Seq("et", "v")),
      Some("""SELECT * FROM (
         | SELECT event_id,
         |  CASE WHEN event_type <> 'error' THEN event_type END AS et,
         |  CASE WHEN event_type <> 'error' THEN value END AS v
         | FROM events)
         |WHERE NOT (et IS NULL AND v IS NULL)""".stripMargin)),

    // === maintenance (S11-S13) ==========================================

    ("q29_retention_filter", (s, d) =>
      Retention.retain(t(s, d, "events"), "ts", ts("2024-01-08 00:00:00")),
      Some("SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'")),

    ("q30_archive_slice", (s, d) =>
      Retention.archiveSlice(t(s, d, "events"), "ts",
        ts("2024-01-08 00:00:00"), ts("2024-02-01 00:00:00")),
      Some("""SELECT *, TIMESTAMP '2024-02-01 00:00:00' AS _archived_at
         |FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'""".stripMargin)),

    ("q31_backfill_window", (s, d) =>
      Retention.backfillWindow(t(s, d, "events"), "ts",
        ts("2024-01-10 00:00:00"), ts("2024-01-20 00:00:00")),
      Some("""SELECT * FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin)),

    ("q55_salted_agg", (s, d) => {
      // skew-safe two-phase aggregation must equal the plain aggregation
      val ev = t(s, d, "events").withColumn("v", col("value").cast(Money))
      graft.operators.Salt.saltedAgg(ev, Seq("event_type"), saltBuckets = 8, Map(
          "total" -> ((col("v"), "sum")),
          "cnt" -> ((col("v"), "count")),
          "vmin" -> ((col("v"), "min")),
          "vmax" -> ((col("v"), "max"))))
        .select(col("event_type"), col("total").cast("double").as("total"),
          col("cnt"), col("vmin").cast("double").as("vmin"),
          col("vmax").cast("double").as("vmax"))
    }, Some(s"""SELECT event_type,
       | ${dsumSql("value")} AS total,
       | count(value) AS cnt,
       | CAST(min(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS vmin,
       | CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS vmax
       |FROM events GROUP BY event_type""".stripMargin)),

    ("q118_hash_split", (s, d) =>
      // deterministic 80/10/10 corpus split: id-hash permille cut at
      // cumulative bounds — disjoint, exhaustive, rebuild-stable (no
      // eval leakage when the corpus is regenerated)
      graft.operators.Sample.hashSplit(
        t(s, d, "documents").select("doc_id"), "doc_id",
        Seq("train" -> 800, "val" -> 100, "test" -> 100)),
      Some("""WITH b AS (
         |  SELECT doc_id,
         |    ((((doc_id + 7919) % 100000007) * 2654435761 % 99999989)
         |      * 2246822519) % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN bucket < 800 THEN 'train'
         |       WHEN bucket < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin)),

    ("q119_length_batches", (s, d) =>
      // padding-efficient inference batching: bucket docs by token
      // length (width 32), hash-shard for balance, number off batches
      // of 16 in id order within each (bucket, shard)
      graft.operators.Pack.lengthBucketBatches(
        t(s, d, "documents"), "doc_id", TextOps.tokenCount(col("text")),
        bucketTokens = 32, batchSize = 16, nShards = 2),
      Some("""WITH toks AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
         |    ((doc_id % 100000007) * 2654435761) % 2 AS shard
         |  FROM documents)
         |SELECT doc_id, n_tokens, shard, n_tokens // 32 AS len_bucket,
         |  CAST((row_number() OVER (PARTITION BY n_tokens // 32, shard
         |    ORDER BY doc_id) - 1) // 16 AS BIGINT) AS batch_idx
         |FROM toks""".stripMargin)),

    ("q117_salted_join", (s, d) => {
      // skew-safe replicated-dimension join must equal the plain join:
      // events (fact, possibly hot user keys) salted across 8 buckets,
      // customer replicated per bucket, joined on (user_id, salt)
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"), col("value"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.Salt.saltedJoin(ev, cust, Seq("user_id"), saltBuckets = 8)
    }, Some("""SELECT event_id, user_id, value, c_mktsegment
       |FROM events JOIN customer ON user_id = c_custkey""".stripMargin)),

    ("q61_exact_distinct_daily", (s, d) =>
      // the exact COUNT(DISTINCT) twin of q57 — oracle-checked, so the
      // sketch query's shape has a hard correctness anchor
      t(s, d, "events").groupBy(to_date(col("ts")).as("event_date"))
        .agg(countDistinct(col("user_id")).as("exact_users")),
      Some("""SELECT CAST(ts AS DATE) AS event_date,
         | count(DISTINCT user_id) AS exact_users
         |FROM events GROUP BY 1""".stripMargin)),

    ("q62_top_products_daily", (s, d) =>
      // sales_mart.top_products (db_setup.py:271 — declared VARCHAR(500),
      // never populated by the reference): per-day top-3 products by
      // summed quantity, concatenated as a csv string
      Gold.topProductsDaily(
        t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey")),
        col("o_orderdate"), col("l_partkey"), col("l_quantity"), k = 3),
      Some("""SELECT event_date,
         | string_agg(CAST(product_id AS VARCHAR), ',' ORDER BY rk) AS top_products
         |FROM (
         |  SELECT o_orderdate AS event_date, l_partkey AS product_id,
         |    row_number() OVER (PARTITION BY o_orderdate
         |      ORDER BY sum(CAST(l_quantity AS DECIMAL(18,6))) DESC, l_partkey) AS rk
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY o_orderdate, l_partkey)
         |WHERE rk <= 3 GROUP BY event_date""".stripMargin)),

    ("q63_clean_corpus", (s, d) =>
      // the C4-style cleaning composite over a corpus with planted
      // exact duplicates: score -> language/fluency/length gates ->
      // exact dedup keeping the lowest id
      graft.text.CorpusClean.cleanCorpus(
        t(s, d, "documents").select("doc_id", "text").unionByName(
          t(s, d, "documents").select(
            (col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        "doc_id", "text", lang = "en", stopwords = stopwords,
        minStopRatio = 0.03, minTokens = 20L, maxTokens = 90L),
      Some {
        val langs = TextOps.LangMarkers.map(_._1)
        val scores = TextOps.LangMarkers.map { case (lang, words) =>
          s""" CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
             |   w -> w IN (${words.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS score_$lang""".stripMargin
        }.mkString(",\n")
        val caseArms = langs.init.map { lang =>
          val conds = langs.filterNot(_ == lang)
            .map(o => s"score_$lang >= score_$o").mkString(" AND ")
          s"WHEN $conds THEN '$lang'"
        }.mkString(" ")
        s"""WITH u AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, text FROM documents
           |), scored AS (
           |  SELECT doc_id, text,
           |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
           |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
           |      w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
           |      / len(regexp_split_to_array(text, '\\s+')) AS stop_ratio,
           |$scores
           |  FROM u)
           |SELECT doc_id, n_tokens, stop_ratio
           |FROM scored
           |WHERE (CASE $caseArms ELSE '${langs.last}' END) = 'en'
           |  AND stop_ratio >= 0.03 AND n_tokens BETWEEN 20 AND 90
           |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin
      }),

    ("q64_topk_per_group", (s, d) =>
      // per-group quota (top-2 events per type by value): WindowGroupLimit
      // keeps each map task's local top-k before the exchange
      Dedup.topKPerKey(t(s, d, "events"), Seq("event_type"),
        Seq(col("value").desc_nulls_last, col("ts").asc, col("event_id").asc), 2)
        .select("event_type", "event_id", "value"),
      Some("""SELECT event_type, event_id, value FROM events
         |QUALIFY row_number() OVER (PARTITION BY event_type
         |  ORDER BY value DESC NULLS LAST, ts, event_id) <= 2""".stripMargin)),

    ("q65_decontaminate", (s, d) => {
      // benchmark decontamination: every 10th doc plays the eval set;
      // training docs sharing a content fingerprint with it are dropped
      val docs = t(s, d, "documents").select("doc_id", "text")
      graft.text.CorpusClean.decontaminate(
        docs, docs.filter(col("doc_id") % 10 === 0), "text")
        .select("doc_id")
    }, Some("""WITH fp AS (SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS f
         |  FROM documents)
         |SELECT t.doc_id FROM fp t
         |ANTI JOIN (SELECT f FROM fp WHERE doc_id % 10 = 0) e ON t.f = e.f""".stripMargin)),

    ("q120_decontaminated_split", (s, d) => {
      // the composite a real corpus build runs before training: assign
      // train/val/test, then strip eval-suite fingerprints out of the
      // TRAIN split (val/test are graded anyway; train must not see
      // eval content). Composes two oracled ops — q118's two-round
      // hash split and q65's fingerprint anti join
      val docs = t(s, d, "documents").select("doc_id", "text")
      val evalSet = docs.filter(col("doc_id") % 10 === 0)
      val train = graft.operators.Sample.hashSplit(docs, "doc_id",
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
        .filter(col("split") === "train")
      graft.text.CorpusClean.decontaminate(train, evalSet, "text")
        .select("doc_id", "split")
    }, Some("""WITH fp AS (SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS f
         |  FROM documents),
         |train AS (
         |  SELECT doc_id, f FROM fp
         |  WHERE ((((doc_id + 7919) % 100000007) * 2654435761 % 99999989)
         |    * 2246822519) % 1000 < 800)
         |SELECT t.doc_id, 'train' AS split FROM train t
         |ANTI JOIN (SELECT f FROM fp WHERE doc_id % 10 = 0) e ON t.f = e.f""".stripMargin)),

    ("q121_composed_sample", (s, d) =>
      // the sampler-composition contract end-to-end: a 20% uniform
      // hash-sample followed by a 50/50 stratified sample must keep
      // ~10% of each stratum, not min(200, 500) = 20%. Works because
      // each sampler draws from its own seeded two-round hash — the
      // oracle replays both verdicts independently
      graft.operators.Sample.stratifiedHashSample(
        graft.operators.Sample.hashSample(t(s, d, "events"), "event_id", 200),
        "event_id", "event_type", Map("click" -> 500, "view" -> 500))
        .select("event_id", "event_type", "user_id"),
      Some("""SELECT event_id, event_type, user_id FROM events
         |WHERE (((event_id % 100000007) * (2654435761 + 15485863) % 99999989)
         |    * 2246822519) % 1000 < 200
         |  AND (((event_id % 100000007) * (2654435761 + 32452843) % 99999989)
         |    * 2246822519) % 1000000 <
         |  CASE event_type WHEN 'click' THEN 500000 WHEN 'view' THEN 500000 ELSE 0 END""".stripMargin)),

    ("q122_heavy_ngrams", (s, d) => {
      // exact heavy hitters at sketch cost: a Count-Min sketch can only
      // OVERestimate, so probe >= t admits every truly heavy 3-gram (no
      // false negatives) and the exact rescore of the candidate slice
      // equals plain GROUP BY/HAVING — which is why this sketch query
      // is fully oracle-checkable, unlike a raw sketch readout (q57).
      // At scale only probe-positive rows reach the exchange; the naive
      // query shuffles the entire n-gram vocabulary to find 154 keys.
      // tokens projected to an ATTRIBUTE before the ngram HOF — a
      // lambda over the raw split tree re-runs the regex per gram
      // position (the q72 lesson; measured 2x on this query)
      val grams = t(s, d, "documents")
        .select(TextOps.tokens(col("text")).as("toks"))
        .select(explode(TextOps.ngrams(col("toks"), 3)).as("gram"))
      graft.operators.Sketches.heavyHitters(grams, "gram", minCount = 5L,
        eps = 1e-4)
    }, Some("""WITH g AS (
       |  SELECT unnest(list_transform(range(0, len(t) - 2),
       |    i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))) AS gram
       |  FROM (SELECT regexp_split_to_array(text, '\s+') AS t FROM documents))
       |SELECT gram, CAST(count(*) AS BIGINT) AS n
       |FROM g GROUP BY gram HAVING count(*) >= 5""".stripMargin)),

    ("q123_span_dup_coverage", (s, d) =>
      // substring-level dedup diagnostic (Lee et al. 2022 at n-gram
      // granularity): per doc, the fraction of token positions covered
      // by a 3-gram that also occurs in ANOTHER doc — the boilerplate
      // share document-level Jaccard misses. Cross-doc test is
      // min(doc)!=max(doc), never a count-distinct; no pair joins
      graft.text.SpanDedup.spanDupCoverage(
        t(s, d, "documents"), "doc_id", "text", n = 3),
      Some("""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len(t) - 2),
         |    i -> struct_pack(pos := i,
         |           gram := array_to_string(list_slice(t, i + 1, i + 3), ' ')))) AS u
         |  FROM toks),
         |ge AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g),
         |xd AS (SELECT gram FROM ge GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
         |cov AS (
         |  SELECT DISTINCT ge.doc_id, ge.pos + off.o AS p
         |  FROM ge SEMI JOIN xd USING (gram)
         |  CROSS JOIN (VALUES (0), (1), (2)) AS off(o)),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
         |      FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
         |  COALESCE(c.covered, 0) AS covered,
         |  CAST(COALESCE(c.covered, 0) AS DOUBLE) / len(t.t) AS coverage
         |FROM toks t LEFT JOIN c USING (doc_id)""".stripMargin)),

    ("q135_excise_dup_spans", (s, d) =>
      // q123's REWRITE: Lee et al. ExactSubstr dedup at token
      // granularity — duplicated spans are cut out of the text, one
      // canonical copy (lowest doc id) survives. Owners via ONE
      // groupBy(gram) min/max pass, removal = surviving windows
      // exploded ×3, rebuild = position-sorted kept tokens; the
      // reassembled STRINGS hash-replay in SQL
      graft.text.SpanDedup.exciseDupSpans(
        t(s, d, "documents"), "doc_id", "text", n = 3),
      Some("""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len(t) - 2),
         |    i -> struct_pack(pos := i,
         |           gram := array_to_string(list_slice(t, i + 1, i + 3), ' ')))) AS u
         |  FROM toks),
         |ge AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g),
         |own AS (
         |  SELECT gram, min(doc_id) AS owner FROM ge
         |  GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
         |rem AS (
         |  SELECT DISTINCT ge.doc_id, ge.pos + off.o AS p
         |  FROM ge JOIN own USING (gram)
         |  CROSS JOIN (VALUES (0), (1), (2)) AS off(o)
         |  WHERE ge.doc_id <> own.owner),
         |tp AS (
         |  SELECT doc_id, u.p AS p, u.tok AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, len(t)),
         |      i -> struct_pack(p := i, tok := t[i + 1]))) AS u
         |    FROM toks)),
         |kept AS (
         |  SELECT tp.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(tp.tok, ' ' ORDER BY tp.p) AS clean_text
         |  FROM tp ANTI JOIN rem ON tp.doc_id = rem.doc_id AND tp.p = rem.p
         |  GROUP BY tp.doc_id)
         |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  COALESCE(k.clean_text, '') AS clean_text
         |FROM toks t LEFT JOIN kept k USING (doc_id)""".stripMargin)),

    ("q126_corpus_build", (s, d) => {
      // the full corpus build as ONE oracled composite — every stage of
      // CorpusDemo that is SQL-replayable, chained: token-length gate
      // (projection) -> exact dedup keep-min-id (one window pass) ->
      // near-dup edges (exact Jaccard on the q58 adjacent-pair list) ->
      // connected components -> cluster representatives -> 80/10/10
      // hash split keeping train -> eval-fingerprint decontamination.
      // The oracle replays all seven stages, CC as a recursive CTE
      val docs = t(s, d, "documents").select("doc_id", "text")
      val gated = docs.filter(
        TextOps.tokenCount(col("text")).between(20, 90))
      val deduped = graft.operators.Dedup.exactDedupWindowed(
        gated, "doc_id", Seq("text"))
      val pairs = deduped.select(col("doc_id").as("id1"))
        .join(deduped.select((col("doc_id") - 1).as("id1"),
          col("doc_id").as("id2")), Seq("id1"))
      val edges = graft.dedup.NearDup.jaccardVerify(pairs, deduped,
          "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      val comps = graft.operators.ConnectedComponents.components(
        edges, "id1", "id2")
      val reps = graft.operators.ConnectedComponents.keepRepresentatives(
        deduped, "doc_id", comps)
      val train = graft.operators.Sample.hashSplit(reps, "doc_id",
          Seq("train" -> 800, "val" -> 100, "test" -> 100))
        .filter(col("split") === "train")
      graft.text.CorpusClean.decontaminate(train,
          docs.filter(col("doc_id") % 10 === 0), "text")
        .select("doc_id", "split")
    }, Some("""WITH RECURSIVE
       |gated AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE len(regexp_split_to_array(text, '\s+')) BETWEEN 20 AND 90),
       |ded AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |    FROM gated) WHERE rn = 1),
       |e AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM ded a JOIN ded b ON b.doc_id = a.doc_id + 1
       |  WHERE CAST(len(list_intersect(list_distinct(regexp_split_to_array(a.text, '\s+')),
       |                                list_distinct(regexp_split_to_array(b.text, '\s+')))) AS DOUBLE)
       |    / len(list_distinct(list_concat(regexp_split_to_array(a.text, '\s+'),
       |                                    regexp_split_to_array(b.text, '\s+')))) >= 0.5),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |lab AS (
       |  SELECT u AS id, u AS comp FROM sym
       |  UNION
       |  SELECT sym.u AS id, lab.comp FROM sym JOIN lab ON sym.v = lab.id),
       |comp AS (SELECT id, min(comp) AS component FROM lab GROUP BY id),
       |reps AS (
       |  SELECT d.doc_id, d.text FROM ded d LEFT JOIN comp c ON d.doc_id = c.id
       |  WHERE COALESCE(c.component, d.doc_id) = d.doc_id),
       |train AS (
       |  SELECT doc_id, text FROM reps
       |  WHERE ((((doc_id + 7919) % 100000007) * 2654435761 % 99999989)
       |    * 2246822519) % 1000 < 800),
       |fp AS (SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 1000000007) AS f
       |  FROM documents)
       |SELECT t.doc_id, 'train' AS split
       |FROM (SELECT tr.doc_id, fp.f FROM train tr JOIN fp USING (doc_id)) t
       |ANTI JOIN (SELECT f FROM fp WHERE doc_id % 10 = 0) ev ON t.f = ev.f""".stripMargin)),

    ("q125_heavy_users", (s, d) =>
      // q122's operator through the LONG-key probe path: power users
      // above an activity threshold, CMS prefilter + exact rescore ==
      // plain GROUP BY/HAVING (user_id is the archetypal key whose
      // full-vocabulary exchange the sketch avoids at event scale)
      graft.operators.Sketches.heavyHitters(
        t(s, d, "events").filter(col("user_id").isNotNull),
        "user_id", minCount = 70L),
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events
         |WHERE user_id IS NOT NULL
         |GROUP BY user_id HAVING count(*) >= 70""".stripMargin)),

    ("q124_pq_codes", (s, d) => {
      // product-quantization encode: 64-dim float vectors -> 8 nearest-
      // centroid codes (the compression that fits a 100 TB embedding
      // corpus in serving memory). Codebook = 16 hash-smallest vectors
      // on the PORTABLE id hash, so selection, fold-ordered double
      // distances, and first-min argmin all replay in SQL — a fully
      // ORACLED quantizer, where xxhash-seeded IVF (q56) is rows-only
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val cb = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
      graft.sim.Pq.pqEncode(emb, "vec_id", "embedding", cb)
    }, Some {
      val terms = (1 to 8).map { i =>
        s"(CAST(e.embedding[s.sub*8 + $i] AS DOUBLE) - CAST(cb.embedding[s.sub*8 + $i] AS DOUBLE))" +
          s" * (CAST(e.embedding[s.sub*8 + $i] AS DOUBLE) - CAST(cb.embedding[s.sub*8 + $i] AS DOUBLE))"
      }.mkString("\n      + ")
      s"""WITH cb AS (
         |  SELECT * FROM (
         |    SELECT row_number() OVER (ORDER BY
         |        ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code,
         |      embedding
         |    FROM embeddings) WHERE code < 16),
         |d AS (
         |  SELECT e.vec_id, s.sub, cb.code,
         |    ($terms) AS dist
         |  FROM embeddings e
         |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
         |  CROSS JOIN cb)
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code FROM d
         |QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1""".stripMargin
    }),

    ("q127_pq_topk", (s, d) => {
      // ADC top-k over the q124 codes: queries stay exact, the corpus is
      // its 8-byte codes — the join is (sub, code) against a broadcast
      // per-query LUT, never codes × vectors. Fully oracled: the same
      // portable-hash codebook, fold-ordered double sums (subspace order
      // inside pqTopK's aggregate), and (adist, id) tiebreak replay in SQL
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val cb = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
      val codes = graft.sim.Pq.pqEncode(emb, "vec_id", "embedding", cb)
      graft.sim.Pq.pqTopK(codes, emb.filter(col("vec_id") < 5), "vec_id",
        "embedding", cb, topK = 5)
    }, Some {
      def terms(a: String, b: String) = (1 to 8).map { i =>
        s"(CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))" +
          s" * (CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))"
      }.mkString("\n      + ")
      s"""WITH cb AS (
         |  SELECT * FROM (
         |    SELECT row_number() OVER (ORDER BY
         |        ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code,
         |      embedding
         |    FROM embeddings) WHERE code < 16),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT e.vec_id, s.sub, cb.code,
         |      (${terms("e", "cb")}) AS dist
         |    FROM embeddings e
         |    CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
         |    CROSS JOIN cb)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, s.sub, cb.code,
         |    (${terms("q", "cb")}) AS d
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
         |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
         |  CROSS JOIN cb),
         |adist AS (
         |  SELECT l.query_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.d ORDER BY l.sub)),
         |      (a, b) -> a + b) AS adist
         |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         |FROM adist
         |QUALIFY rnk <= 5""".stripMargin
    }),

    ("q129_ivfpq_topk", (s, d) => {
      // the full ANN serving stack (Jégou IVFADC): coarse cell prune ->
      // PQ-ADC re-rank, both quantizers from the PORTABLE hash codebook
      // so the ENTIRE stack replays in SQL — coarse assign, probe
      // selection, subdistances, and the final (adist, id) ranking are
      // one hash compare. The xxhash-seeded IVF (q56) stays rows-only;
      // this is its oracled twin at serving-layout fidelity
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val coarse = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding", m = 1, k = 16)
      val pqcb = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
      graft.sim.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", coarse, pqcb, nprobe = 4, topK = 5)
    }, Some {
      def subTerms(a: String, b: String) = (1 to 8).map { i =>
        s"(CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))" +
          s" * (CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))"
      }.mkString("\n      + ")
      def fullTerms(a: String, b: String) = (1 to 64).map { i =>
        s"(CAST($a.embedding[$i] AS DOUBLE) - CAST($b.embedding[$i] AS DOUBLE))" +
          s" * (CAST($a.embedding[$i] AS DOUBLE) - CAST($b.embedding[$i] AS DOUBLE))"
      }.mkString("\n      + ")
      s"""WITH cb AS (
         |  SELECT * FROM (
         |    SELECT row_number() OVER (ORDER BY
         |        ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code,
         |      embedding
         |    FROM embeddings) WHERE code < 16),
         |assign AS (
         |  SELECT vec_id, code AS list_id FROM (
         |    SELECT e.vec_id, cb.code, (${fullTerms("e", "cb")}) AS cdist
         |    FROM embeddings e CROSS JOIN cb)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, code) = 1),
         |probes AS (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.vec_id AS query_id, cb.code AS list_id,
         |      (${fullTerms("q", "cb")}) AS cdist
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN cb)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cdist, list_id) <= 4),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT e.vec_id, s.sub, cb.code,
         |      (${subTerms("e", "cb")}) AS dist
         |    FROM embeddings e
         |    CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
         |    CROSS JOIN cb)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, s.sub, cb.code,
         |    (${subTerms("q", "cb")}) AS d
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
         |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
         |  CROSS JOIN cb),
         |adist AS (
         |  SELECT l.query_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.d ORDER BY l.sub)),
         |      (a, b) -> a + b) AS adist
         |  FROM codes c
         |  JOIN assign a ON a.vec_id = c.vec_id
         |  JOIN probes p ON p.list_id = a.list_id
         |  JOIN lut l ON l.query_id = p.query_id AND l.sub = c.sub AND l.code = c.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         |FROM adist
         |QUALIFY rnk <= 5""".stripMargin
    }),

    ("q66_sessionize", (s, d) =>
      // 30-min-gap clickstream sessions: one shuffle on user_id shared by
      // the lag window, the running sum, and the session rollup
      graft.operators.Sessionize.sessionStats(
        t(s, d, "events"), "user_id", "ts", "value", 1800L,
        Seq(col("event_id").asc)),
      Some(s"""WITH flagged AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         |  SELECT user_id, ts, value,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM flagged)
         |SELECT user_id, session_seq, min(ts) AS session_start,
         |  max(ts) AS session_end, count(*) AS n_events,
         |  ${dsumSql("value")} AS total_value
         |FROM sess GROUP BY user_id, session_seq""".stripMargin)),

    ("q67_rolling_revenue", (s, d) =>
      Gold.rollingRevenue(t(s, d, "events"), "ts", "user_id", "value", days = 7),
      Some(s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    ${dsumSql("value")} AS total_value
         |  FROM events GROUP BY 1)
         |SELECT event_date, total_value,
         |  CAST(sum(CAST(total_value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         |    AS rolling_sum,
         |  CAST(sum(CAST(total_value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         |    / count(*) OVER w AS rolling_avg
         |FROM daily WINDOW w AS (ORDER BY event_date
         |  RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)""".stripMargin)),

    ("q68_rollup_qty", (s, d) =>
      // subtotal lattice in one pass: Expand + single hash aggregate, no
      // self-union of the input
      t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Some(s"""SELECT l_returnflag, l_linestatus,
         | ${dsumSql("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    ("q102_chunking", (s, d) =>
      // RAG-style overlapping chunks (size 32, stride 24): one explode
      // over per-doc window starts, slices reference the projected
      // token-array attribute (never re-split — the q72 lesson). At
      // scale this is a pure narrow op: no shuffle, output rows ~ tokens/stride
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0),
              (greatest(size(col("toks")) - 9, lit(0)) / 24).cast("int")),
            i => concat_ws(" ", slice(col("toks"), i * 24 + 1, lit(32))))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          col("col").as("chunk_text")),
      Some("""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
         |e AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, greatest(len(toks) - 9, 0) // 24 + 1)) AS i
         |  FROM d)
         |SELECT doc_id, i AS chunk_id,
         |  array_to_string(list_slice(toks, i * 24 + 1, i * 24 + 32), ' ')
         |    AS chunk_text
         |FROM e""".stripMargin)),

    ("q103_bigram_counts", (s, d) =>
      // corpus bigram table (the n-gram LM / KenLM prep shape): explode
      // token bigrams, aggregate — the shuffle carries distinct bigrams
      // after map-side partial aggregation, not instances
      t(s, d, "documents")
        .select(TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(TextOps.ngrams(col("toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n")),
      Some("""WITH d AS (
         |  SELECT regexp_split_to_array(text, '\s+') AS toks FROM documents
         |  WHERE len(regexp_split_to_array(text, '\s+')) >= 2),
         |e AS (
         |  SELECT toks, unnest(range(0, len(toks) - 1)) AS i FROM d)
         |SELECT array_to_string(list_slice(toks, i + 1, i + 2), ' ') AS bigram,
         |  count(*) AS n
         |FROM e GROUP BY 1""".stripMargin)),

    ("q104_feature_hashing", (s, d) => {
      // hashing-trick featurizer: token -> rolling-hash bucket (the
      // engine-portable q44 formula, per token) -> 64-bin histogram per
      // doc, all a narrow projection. The histogram is ONE aggregate
      // fold over the bucket list, so the hashing runs exactly once per
      // token — a per-bucket filter() would re-evaluate the (collapsed-
      // inline) hash list 64 times: CollapseProject re-inlines single-
      // use aliases, so "project to attribute" alone does NOT protect a
      // single-consumer expression (measured 20 s vs ~1 s at sf0.1)
      val hx = transform(col("toks"), t =>
        graft.functions.RollingHash.of(t) % 64L)
      // the histogram is emitted comma-joined (not array<long>): the
      // driver's comparator sorts result columns and cannot hash arrays
      // Par.fan: this whole query is one narrow projection — per-token
      // rolling hash + 64-bin fold — which on a single-file input runs
      // entirely in the scan's ONE task. No-op at scale.
      graft.operators.Par.fan(t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          concat_ws(",", transform(
            aggregate(hx, array_repeat(lit(0L), 64),
              (acc, h) => transform(sequence(lit(0), lit(63)),
                b => element_at(acc, b + 1) +
                  when(b.cast("long") === h, 1L).otherwise(0L))),
            v => v.cast("string"))).as("features"))
    },
      Some("""WITH d AS (
         |  SELECT doc_id,
         |    list_transform(regexp_split_to_array(text, '\s+'), t ->
         |      list_reduce(
         |        list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split(t, ''),
         |            c -> CAST(ascii(c) AS BIGINT))),
         |        (a, b) -> (a * 31 + b) % 1000000007) % 64) AS hx
         |  FROM documents)
         |SELECT doc_id,
         |  array_to_string(list_transform(range(0, 64), b ->
         |    CAST(len(list_filter(hx, h -> h = b)) AS BIGINT)), ',') AS features
         |FROM d""".stripMargin)),

    ("q106_contamination_frac", (s, d) => {
      // per-doc contamination fraction: share of a doc's 5-grams that
      // appear anywhere in the eval split (docs with doc_id % 10 = 0) —
      // the graded metric behind q65's binary decontamination. Left
      // join against the DISTINCT eval-gram set (aggregate-sized), then
      // one count per doc; train docs with zero overlap keep 0.0
      val grams = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(TextOps.ngrams(col("toks"), 5)).as("g"))
      val evalGrams = grams.filter(col("doc_id") % 10 === 0)
        .select("g").distinct().withColumn("hit", lit(1L))
      grams.filter(col("doc_id") % 10 =!= 0)
        .join(evalGrams, Seq("g"), "left")
        .groupBy("doc_id")
        .agg((sum(coalesce(col("hit"), lit(0L))) /
          count(lit(1)).cast("double")).as("contamination"))
    }, Some("""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents
       |  WHERE len(regexp_split_to_array(text, '\s+')) >= 5),
       |g AS (
       |  SELECT doc_id, array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS g
       |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 4)) AS i FROM d)),
       |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0)
       |SELECT t.doc_id,
       |  CAST(sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    / CAST(count(*) AS DOUBLE) AS contamination
       |FROM (SELECT * FROM g WHERE doc_id % 10 <> 0) t
       |LEFT JOIN ev ON t.g = ev.g
       |GROUP BY t.doc_id""".stripMargin)),

    ("q105_token_entropy", (s, d) => {
      // unigram entropy per doc (lexical-diversity quality signal):
      // H = ln(T) - Σ n·ln(n) / T over token frequencies. The Σ goes
      // through per-row DECIMAL(18,6) so accumulation order can't
      // perturb it, and the 6-decimal rounding also absorbs the
      // JVM-vs-libm ln() last-ulp difference; the final H is rounded
      // to 9dp for the same reason
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      tf.groupBy("doc_id")
        .agg(dsum(col("n") * log(col("n"))).as("s"),
          sum(col("n")).as("total"))
        .select(col("doc_id"),
          round(log(col("total")) - col("s") / col("total"), 9)
            .as("entropy"))
    }, Some(s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, ${dsumSql("n * ln(n)")} AS s,
       |    CAST(sum(n) AS BIGINT) AS total
       |  FROM tf GROUP BY doc_id)
       |SELECT doc_id, round(ln(total) - s / total, 9) AS entropy
       |FROM agg""".stripMargin)),

    ("q101_daily_growth", (s, d) => {
      // day-over-day revenue growth: lag + safe pct-change over the
      // daily mart. Like q67, the global window input is one row per
      // calendar day — bounded by the calendar, never by event volume
      val w = org.apache.spark.sql.expressions.Window.orderBy("event_date")
      Gold.dailyRevenue(t(s, d, "events"), "ts", "user_id", "value")
        .select(col("event_date"), col("total_value"))
        .withColumn("prev_value", lag(col("total_value"), 1).over(w))
        .withColumn("pct_change",
          when(col("prev_value").isNotNull,
            (col("total_value") - col("prev_value")) / col("prev_value") * 100.0))
    }, Some(s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS event_date,
       |    ${dsumSql("value")} AS total_value
       |  FROM events GROUP BY 1)
       |SELECT event_date, total_value,
       |  lag(total_value) OVER (ORDER BY event_date) AS prev_value,
       |  CASE WHEN lag(total_value) OVER (ORDER BY event_date) IS NOT NULL
       |    THEN (total_value - lag(total_value) OVER (ORDER BY event_date))
       |      / lag(total_value) OVER (ORDER BY event_date) * 100.0
       |  END AS pct_change
       |FROM daily""".stripMargin)),

    ("q100_shipping_priority", (s, d) =>
      // TPC-H Q3 shape: 3-table join with filters on all three inputs,
      // revenue aggregate, top-10. Catalyst pushes each filter to its
      // scan and AQE picks broadcast for the pruned customer side; the
      // top-10 plans as TakeOrderedAndProject, never a global sort
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders").filter(col("o_orderdate") < ts("1998-07-01 00:00:00")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem").filter(col("l_shipdate") > ts("1998-07-01 00:00:00")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10),
      Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING'
         |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    ("q98_set_ops", (s, d) => {
      // INTERSECT / EXCEPT surface: users who both clicked and
      // purchased, and users who clicked but never purchased, as one
      // labeled union. Spark plans both as aggregate + semi/anti join
      // on the distinct sets — no sort-based set operator needed
      val ev = t(s, d, "events")
      def users(et: String) =
        ev.filter(col("event_type") === et).select("user_id")
      users("click").intersect(users("purchase"))
        .withColumn("segment", lit("click_and_purchase"))
        .unionByName(
          users("click").except(users("purchase"))
            .withColumn("segment", lit("click_no_purchase")))
    }, Some("""SELECT user_id, 'click_and_purchase' AS segment FROM (
       |  SELECT user_id FROM events WHERE event_type = 'click'
       |  INTERSECT
       |  SELECT user_id FROM events WHERE event_type = 'purchase')
       |UNION ALL
       |SELECT user_id, 'click_no_purchase' AS segment FROM (
       |  SELECT user_id FROM events WHERE event_type = 'click'
       |  EXCEPT
       |  SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin)),

    ("q99_semi_join", (s, d) =>
      // EXISTS / left-semi surface: orders having at least one
      // high-quantity lineitem — the probe side streams, the build side
      // is the distinct key set, and no lineitem columns survive
      t(s, d, "orders").join(
        t(s, d, "lineitem").filter(col("l_quantity") >= 45)
          .select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
         |WHERE EXISTS (SELECT 1 FROM lineitem l
         |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)""".stripMargin)),

    ("q96_tumbling_windows", (s, d) =>
      // 6-hour tumbling event-time windows in batch — same window()
      // operator the streaming face uses, so batch backfill and the
      // live stream share one definition. Epoch-aligned buckets match
      // DuckDB's time_bucket for divisors of 24h
      t(s, d, "events")
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("bucket_start"), col("n"),
          col("total_value")),
      Some(s"""SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start,
         |  count(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin)),

    ("q97_hopping_windows", (s, d) =>
      // 6-hour windows sliding every 2 hours: each event lands in 3
      // overlapping windows (Spark's window() expands them inline —
      // same contribution-explode shape as q86, factor = size/slide)
      t(s, d, "events")
        .groupBy(window(col("ts"), "6 hours", "2 hours"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("bucket_start"), col("n"),
          col("total_value")),
      Some(s"""SELECT time_bucket(INTERVAL '2 hours', ts)
         |    - CAST(i AS INTEGER) * INTERVAL '2 hours' AS bucket_start,
         |  count(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events, range(0, 3) t(i)
         |GROUP BY 1""".stripMargin)),

    ("q95_cube_qty", (s, d) =>
      // full subtotal lattice (all 4 grouping combinations) — same
      // single Expand + hash-aggregate plan as rollup, 2^k grouping sets
      t(s, d, "lineitem").cube("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Some(s"""SELECT l_returnflag, l_linestatus,
         | ${dsumSql("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    ("q69_pivot_events", (s, d) =>
      // explicit pivot values: skips the extra distinct-scan pass and
      // fixes the column order for the hash compare
      t(s, d, "events")
        .groupBy(to_date(col("ts")).as("event_date"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value"))),
      Some({
        def cell(v: String) =
          s"""CAST(sum(CASE WHEN event_type = '$v'
             |  THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS "$v"""".stripMargin
        s"""SELECT CAST(ts AS DATE) AS event_date,
           | ${Seq("click", "error", "purchase", "signup", "view").map(cell).mkString(",\n ")}
           |FROM events GROUP BY 1""".stripMargin
      })),

    ("q70_stratified_sample", (s, d) =>
      // reproducible corpus downsampling: 10% of clicks, 5% of views,
      // everything else dropped — a pure narrow filter, no shuffle, no RNG
      graft.operators.Sample.stratifiedHashSample(
        t(s, d, "events"), "event_id", "event_type",
        Map("click" -> 100, "view" -> 50))
        .select("event_id", "event_type", "user_id"),
      Some("""SELECT event_id, event_type, user_id FROM events
         |WHERE (((event_id % 100000007) * (2654435761 + 32452843) % 99999989)
         |    * 2246822519) % 1000000 <
         |  CASE event_type WHEN 'click' THEN 100000 WHEN 'view' THEN 50000 ELSE 0 END""".stripMargin)),

    ("q71_dedup_clusters", (s, d) => {
      // pairwise near-dup verdicts -> dedup clusters: exact Jaccard >= 0.5
      // over the q58 adjacent-pair list, then large-star/small-star CC.
      // The oracle replays it as a recursive transitive closure + min.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2")),
          Seq("id1"))
      val edges = graft.dedup.NearDup.jaccardVerify(pairs, docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      graft.operators.ConnectedComponents.components(edges, "id1", "id2")
    }, Some("""WITH RECURSIVE
       |e AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE CAST(len(list_intersect(list_distinct(regexp_split_to_array(a.text, '\s+')),
       |                                list_distinct(regexp_split_to_array(b.text, '\s+')))) AS DOUBLE)
       |    / len(list_distinct(list_concat(regexp_split_to_array(a.text, '\s+'),
       |                                    regexp_split_to_array(b.text, '\s+')))) >= 0.5),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |lab AS (
       |  SELECT u AS id, u AS comp FROM sym
       |  UNION
       |  SELECT sym.u AS id, lab.comp FROM sym JOIN lab ON sym.v = lab.id)
       |SELECT id, min(comp) AS component FROM lab GROUP BY id""".stripMargin)),

    ("q90_revenue_concentration", (s, d) => {
      // Lorenz/Pareto view: share of total revenue by user spend-decile.
      // Deciles are VALUE-based (quantile cut points + comparisons), not
      // ntile: ntile needs one global sort of every user on a single
      // partition — the textbook scale bottleneck — while quantile cuts
      // broadcast as 9 doubles and bucketing stays embarrassingly
      // parallel. decile 1 = top spenders.
      val perUser = t(s, d, "events").groupBy("user_id")
        .agg(dsum(col("value")).as("user_total"))
      val qs = (1 to 9).map(_ / 10.0)
      val cuts = perUser.agg(
        percentile(col("user_total"), typedLit(qs)).as("cuts"),
        dsum(col("user_total")).as("grand_total"))
      perUser.crossJoin(cuts)
        .withColumn("decile",
          (lit(10) - size(filter(col("cuts"), c => col("user_total") >= c)))
            .cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_users"),
          dsum(col("user_total")).as("decile_total"),
          first(col("grand_total")).as("grand_total"))
        .select(col("decile"), col("n_users"), col("decile_total"),
          (col("decile_total") / col("grand_total")).as("revenue_share"))
    }, Some(s"""WITH p AS (
       |  SELECT user_id, ${dsumSql("value")} AS user_total
       |  FROM events GROUP BY 1),
       |c AS (
       |  SELECT quantile_cont(user_total,
       |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts,
       |    ${dsumSql("user_total")} AS grand_total
       |  FROM p),
       |r AS (
       |  SELECT user_total,
       |    10 - len(list_filter(cuts, x -> user_total >= x)) AS decile,
       |    grand_total
       |  FROM p CROSS JOIN c),
       |g AS (
       |  SELECT decile, count(*) AS n_users,
       |    ${dsumSql("user_total")} AS decile_total,
       |    first(grand_total) AS grand_total
       |  FROM r GROUP BY decile)
       |SELECT decile, n_users, decile_total,
       |  decile_total / grand_total AS revenue_share
       |FROM g""".stripMargin)),

    ("q91_banded_edit_distance", (s, d) => {
      // the at-scale variant of q85: Spark's threshold form early-exits
      // the O(len²) DP once distance exceeds the band (O(k·len) work),
      // returning -1 — exactly what a verify step wants when anything
      // beyond the band is "not a duplicate" anyway
      val docs = t(s, d, "documents").select("doc_id", "text")
      docs.select(col("doc_id").as("id1"), col("text").as("t1"))
        .join(docs.select((col("doc_id") - 1).as("id1"),
          col("doc_id").as("id2"), col("text").as("t2")), Seq("id1"))
        .select(col("id1"), col("id2"),
          levenshtein(col("t1"), col("t2"), 40).cast("long").as("banded_dist"))
    }, Some("""SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  CASE WHEN levenshtein(a.text, b.text) > 40 THEN -1
       |    ELSE levenshtein(a.text, b.text) END AS banded_dist
       |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""".stripMargin)),

    ("q94_pii_redact", (s, d) =>
      // PII pass a corpus build runs before training: validate/redact
      // phone fields, count email-shaped strings in free text. Patterns
      // are RE2-safe (no lookarounds) so Spark's Java regex and the
      // oracle's RE2 agree; DuckDB's regexp_replace needs the 'g' flag
      // to match Spark's replace-all default
      t(s, d, "customer").select(col("c_custkey"),
        col("c_name").rlike("^Customer#[0-9]{9}$").as("id_format_valid"),
        regexp_replace(col("c_name"), "[0-9]", "*").as("name_masked"),
        regexp_count(col("c_name"), lit("[0-9]+")).cast("long")
          .as("digit_runs"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("extracted_id")),
      Some("""SELECT c_custkey,
         |  regexp_matches(c_name, '^Customer#[0-9]{9}$') AS id_format_valid,
         |  regexp_replace(c_name, '[0-9]', '*', 'g') AS name_masked,
         |  CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS BIGINT)
         |    AS digit_runs,
         |  regexp_extract(c_name, '([0-9]+)', 1) AS extracted_id
         |FROM customer""".stripMargin)),

    ("q93_mad_outliers", (s, d) => {
      // median-absolute-deviation outliers: the robust counterpart of
      // q82's z-score (immune to the outliers it hunts). Two exact
      // medians per stratum — each interpolation is IEEE-identical
      // cross-engine — then a modified-z filter at 3.5 (Iglewicz-
      // Hoaglin constant 0.6745)
      val ev = t(s, d, "events")
      val med = ev.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val mad = ev.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      ev.join(mad, "event_type")
        .withColumn("mz", lit(0.6745) * (col("value") - col("med")) / col("mad"))
        .filter(abs(col("mz")) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"), col("mz"))
    }, Some("""WITH med AS (
       |  SELECT event_type, quantile_cont(value, 0.5) AS med
       |  FROM events GROUP BY 1),
       |mad AS (
       |  SELECT e.event_type, med,
       |    quantile_cont(abs(value - med), 0.5) AS mad
       |  FROM events e JOIN med USING (event_type) GROUP BY 1, 2),
       |z AS (
       |  SELECT event_id, e.event_type, value,
       |    0.6745 * (value - med) / mad AS mz
       |  FROM events e JOIN mad USING (event_type))
       |SELECT event_id, event_type, value, mz
       |FROM z WHERE abs(mz) > 3.5""".stripMargin)),

    ("q92_time_to_convert", (s, d) => {
      // conversion-latency distribution: per-user first view -> first
      // purchase delta, then exact interpolated quantiles over the
      // converting users (microsecond integers, so interpolation is
      // IEEE-identical cross-engine)
      val firsts = t(s, d, "events").groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts
        .filter(col("t_purchase") >= col("t_view"))
        .select((unix_micros(col("t_purchase")) - unix_micros(col("t_view")))
          .as("micros"))
        .agg(count(lit(1)).as("n_converted"),
          percentile(col("micros"), lit(0.5)).as("p50_micros"),
          percentile(col("micros"), lit(0.9)).as("p90_micros"))
    }, Some("""WITH f AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
       |  FROM events GROUP BY user_id),
       |c AS (
       |  SELECT epoch_us(t_purchase) - epoch_us(t_view) AS micros
       |  FROM f WHERE t_purchase >= t_view)
       |SELECT count(*) AS n_converted,
       |  quantile_cont(micros, 0.5) AS p50_micros,
       |  quantile_cont(micros, 0.9) AS p90_micros
       |FROM c""".stripMargin)),

    ("q109_session_funnel", (s, d) => {
      // operators compose: gap-sessionize, then funnel WITHIN each
      // session (did a view convert to a purchase in the same visit?).
      // The session tagging, the per-session first-touch aggregate, and
      // nothing else — still one event-scale shuffle on user_id
      val tagged = graft.operators.Sessionize.withSessionSeq(
        t(s, d, "events"), "user_id", "ts", 1800L, Seq(col("event_id").asc))
      tagged.groupBy(col("user_id"), col("session_seq")).agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_with_view"),
          sum(when(col("t_purchase") >= col("t_view"), 1L).otherwise(0L))
            .as("n_converted"))
    }, Some("""WITH flagged AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |    THEN 1 ELSE 0 END AS is_new
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts, event_type,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       |  FROM flagged),
       |f AS (
       |  SELECT user_id, session_seq,
       |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
       |  FROM sess GROUP BY 1, 2)
       |SELECT count(*) AS n_sessions,
       |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_with_view,
       |  CAST(sum(CASE WHEN t_purchase >= t_view THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_converted
       |FROM f""".stripMargin)),

    ("q88_funnel", (s, d) => {
      // view -> click -> purchase conversion: first-touch per stage per
      // user in ONE aggregate (min of a conditional), then one global
      // rollup — two shuffles, both on aggregate-sized data
      val firsts = t(s, d, "events").groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts.agg(
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("t_click") >= col("t_view"), 1L).otherwise(0L))
          .as("n_view_then_click"),
        sum(when(col("t_click") >= col("t_view")
          && col("t_purchase") >= col("t_click"), 1L).otherwise(0L))
          .as("n_full_funnel"))
    }, Some("""WITH f AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
       |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
       |  FROM events GROUP BY user_id)
       |SELECT
       |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_view,
       |  CAST(sum(CASE WHEN t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_view_then_click,
       |  CAST(sum(CASE WHEN t_click >= t_view AND t_purchase >= t_click
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
       |FROM f""".stripMargin)),

    ("q89_event_transitions", (s, d) => {
      // next-event transition counts (the Markov matrix of the
      // clickstream): lead() over the per-user time order, then count
      // per (from, to) — one window shuffle + one aggregate
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
    }, Some("""WITH x AS (
       |  SELECT event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS next_type
       |  FROM events)
       |SELECT event_type, next_type, count(*) AS n
       |FROM x WHERE next_type IS NOT NULL
       |GROUP BY 1, 2""".stripMargin)),

    ("q86_rolling_distinct_users", (s, d) =>
      // WAU-per-day: a window frame can't hold DISTINCT, so each
      // distinct (day,user) pair is exploded to the 7 windows it serves
      // — the blowup applies to the reduced pair set, not raw events
      Gold.rollingDistinctUsers(t(s, d, "events"), "ts", "user_id", days = 7),
      Some("""WITH pairs AS (
         |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
         |ad AS (SELECT DISTINCT day AS event_date FROM pairs),
         |x AS (SELECT u, day + CAST(i AS INTEGER) AS event_date
         |  FROM pairs, range(0, 7) t(i))
         |SELECT event_date, count(DISTINCT u) AS rolling_7d_users
         |FROM x JOIN ad USING (event_date)
         |GROUP BY event_date""".stripMargin)),

    ("q87_retention_cohorts", (s, d) =>
      Gold.retentionCohorts(t(s, d, "events"), "ts", "user_id"),
      Some("""WITH pairs AS (
         |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
         |c AS (SELECT u, min(day) AS cohort_day FROM pairs GROUP BY u)
         |SELECT cohort_day, day - cohort_day AS day_offset,
         |  count(DISTINCT u) AS returning_users
         |FROM pairs JOIN c USING (u)
         |GROUP BY 1, 2""".stripMargin)),

    ("q82_zscore_outliers", (s, d) => {
      // per-stratum outlier flagging with DECIMAL-EXACT moments: the
      // sums behind mean/stddev go through DECIMAL(18,6) per row, so
      // every engine and every partitioning derives bit-identical
      // mean/std (stddev_samp's streaming merge would differ in the
      // last ulp); sqrt and division are IEEE-exact, so no rounding
      // fudge is needed anywhere
      val ev = t(s, d, "events")
      val stats = ev.groupBy("event_type").agg(
        dsum(col("value")).as("s1"),
        dsum(col("value") * col("value")).as("s2"),
        count(lit(1)).as("n"))
      ev.join(stats, "event_type")
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("std", sqrt(
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
        .filter(abs(col("value") - col("mean")) > lit(3) * col("std"))
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - col("mean")) / col("std")).as("z"))
    }, Some(s"""WITH stats AS (
       |  SELECT event_type, ${dsumSql("value")} AS s1,
       |    ${dsumSql("value*value")} AS s2, count(*) AS n
       |  FROM events GROUP BY 1),
       |j AS (
       |  SELECT event_id, e.event_type, value, s1 / n AS mean,
       |    sqrt((s2 - s1*s1/n) / (n - 1)) AS std
       |  FROM events e JOIN stats USING (event_type))
       |SELECT event_id, event_type, value, (value - mean) / std AS z
       |FROM j WHERE abs(value - mean) > 3 * std""".stripMargin)),

    ("q80_cluster_dedup", (s, d) => {
      // end-to-end near-dup cluster dedup: pairs -> components -> keep
      // the minimum doc of each cluster plus all unclustered docs
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2")),
          Seq("id1"))
      val edges = graft.dedup.NearDup.jaccardVerify(pairs, docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      val comps = graft.operators.ConnectedComponents.components(edges, "id1", "id2")
      graft.operators.ConnectedComponents.keepRepresentatives(
        docs.select("doc_id"), "doc_id", comps)
    }, Some("""WITH RECURSIVE
       |e AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE CAST(len(list_intersect(list_distinct(regexp_split_to_array(a.text, '\s+')),
       |                                list_distinct(regexp_split_to_array(b.text, '\s+')))) AS DOUBLE)
       |    / len(list_distinct(list_concat(regexp_split_to_array(a.text, '\s+'),
       |                                    regexp_split_to_array(b.text, '\s+')))) >= 0.5),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |lab AS (
       |  SELECT u AS id, u AS comp FROM sym
       |  UNION
       |  SELECT sym.u AS id, lab.comp FROM sym JOIN lab ON sym.v = lab.id),
       |comp AS (SELECT id, min(comp) AS component FROM lab GROUP BY id)
       |SELECT d.doc_id FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
       |WHERE coalesce(component, d.doc_id) = d.doc_id""".stripMargin)),

    ("q81_skew_report", (s, d) => {
      // the 100 TB tuning diagnostic: heavy-hitter keys with their share
      // of the table and skew ratio (n / mean-per-key) — what decides
      // whether a join needs salting or AQE skew handling
      val counts = t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_keys"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("user_id").asc)
      counts.crossJoin(tot)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 5)
        .select(col("user_id"), col("n"),
          (col("n").cast("double") / col("total")).as("share"),
          (col("n").cast("double") * col("n_keys") / col("total")).as("skew"))
    }, Some("""WITH c AS (
       |  SELECT user_id, count(*) AS n FROM events GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys FROM c),
       |r AS (SELECT user_id, n, total, n_keys,
       |  row_number() OVER (ORDER BY n DESC, user_id) AS rn
       |  FROM c CROSS JOIN t)
       |SELECT user_id, n, CAST(n AS DOUBLE) / total AS share,
       |  CAST(n AS DOUBLE) * n_keys / total AS skew
       |FROM r WHERE rn <= 5""".stripMargin)),

    ("q107_cluster_size_histogram", (s, d) => {
      // dedup diagnostics: distribution of near-dup cluster sizes —
      // the number that tells you whether dedup will remove 1% or 60%
      // of the corpus before you run it. Two aggregates over the
      // component map (cluster-count-sized, then histogram-sized)
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2")),
          Seq("id1"))
      val edges = graft.dedup.NearDup.jaccardVerify(pairs, docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      graft.operators.ConnectedComponents.components(edges, "id1", "id2")
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }, Some("""WITH RECURSIVE
       |e AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE CAST(len(list_intersect(list_distinct(regexp_split_to_array(a.text, '\s+')),
       |                                list_distinct(regexp_split_to_array(b.text, '\s+')))) AS DOUBLE)
       |    / len(list_distinct(list_concat(regexp_split_to_array(a.text, '\s+'),
       |                                    regexp_split_to_array(b.text, '\s+')))) >= 0.5),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |lab AS (
       |  SELECT u AS id, u AS comp FROM sym
       |  UNION
       |  SELECT sym.u AS id, lab.comp FROM sym JOIN lab ON sym.v = lab.id),
       |comp AS (SELECT id, min(comp) AS component FROM lab GROUP BY id),
       |sizes AS (SELECT component, count(*) AS cluster_size
       |  FROM comp GROUP BY component)
       |SELECT cluster_size, count(*) AS n_clusters
       |FROM sizes GROUP BY cluster_size""".stripMargin)),

    ("q108_type_token_ratio", (s, d) => {
      // corpus diversity report: distinct/total ratio for 1/2/3-grams —
      // the drop across n is the repetitiveness fingerprint of a corpus.
      // One explode + one aggregate per n, unioned (aggregate-sized)
      def ttr(n: Int) = {
        // Par.fan: tokenize + n-gram explode feed the countDistinct's
        // map side — one task on a single-file input. No-op at scale.
        val grams = graft.operators.Par.fan(
            t(s, d, "documents"), col("doc_id"))
          .select(TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= n)
          .select(explode(TextOps.ngrams(col("toks"), n)).as("g"))
        grams.agg(lit(n.toLong).as("n"),
          countDistinct(col("g")).as("n_distinct"),
          count(lit(1)).as("n_total"),
          (countDistinct(col("g")) / count(lit(1)).cast("double")).as("ttr"))
      }
      ttr(1).unionByName(ttr(2)).unionByName(ttr(3))
    }, Some({
      def ttrSql(n: Int) =
        s"""SELECT CAST($n AS BIGINT) AS n, count(DISTINCT g) AS n_distinct,
           |  count(*) AS n_total,
           |  count(DISTINCT g) / CAST(count(*) AS DOUBLE) AS ttr
           |FROM (
           |  SELECT array_to_string(list_slice(toks, i + 1, i + $n), ' ') AS g
           |  FROM (SELECT toks, unnest(range(0, len(toks) - ${n - 1})) AS i
           |        FROM (SELECT regexp_split_to_array(text, '\\s+') AS toks FROM documents)
           |        WHERE len(toks) >= $n))""".stripMargin
      Seq(1, 2, 3).map(ttrSql).mkString("\nUNION ALL\n")
    })),

    ("q78_zorder_key", (s, d) =>
      // Morton key over (user, day): the sort dimension that makes
      // parquet min/max stats selective for BOTH user and time-range
      // predicates (see maintenance/Layout)
      t(s, d, "events").select(col("event_id"),
        graft.maintenance.Layout.zorder2(
          col("user_id"), unix_date(to_date(col("ts")))).as("zkey")),
      Some("""WITH b AS (
         |  SELECT event_id, (user_id & 65535) AS ax,
         |    ((CAST(ts AS DATE) - DATE '1970-01-01') & 65535) AS bx
         |  FROM events),
         |s1 AS (SELECT event_id, ((ax | (ax << 8)) & 16711935) AS ax,
         |  ((bx | (bx << 8)) & 16711935) AS bx FROM b),
         |s2 AS (SELECT event_id, ((ax | (ax << 4)) & 252645135) AS ax,
         |  ((bx | (bx << 4)) & 252645135) AS bx FROM s1),
         |s3 AS (SELECT event_id, ((ax | (ax << 2)) & 858993459) AS ax,
         |  ((bx | (bx << 2)) & 858993459) AS bx FROM s2),
         |s4 AS (SELECT event_id, ((ax | (ax << 1)) & 1431655765) AS ax,
         |  ((bx | (bx << 1)) & 1431655765) AS bx FROM s3)
         |SELECT event_id, (ax | (bx << 1)) AS zkey FROM s4""".stripMargin)),

    ("q79_mixture_sample", (s, d) =>
      // domain mixing: downsample event strata to a 60/30/10 target mix
      // at the maximum volume the counts allow, deterministically
      graft.operators.Sample.mixtureSample(
        t(s, d, "events"), "event_id", "event_type",
        Map("click" -> 0.6, "view" -> 0.3, "purchase" -> 0.1))
        .select("event_id", "event_type", "user_id"),
      Some("""WITH c AS (
         |  SELECT event_type, CAST(count(*) AS DOUBLE) AS cnt
         |  FROM events GROUP BY 1),
         |w AS (SELECT * FROM (VALUES ('click', 0.6), ('view', 0.3),
         |  ('purchase', 0.1)) AS t(event_type, w)),
         |j AS (SELECT c.event_type, cnt, w FROM c JOIN w USING (event_type)),
         |t AS (SELECT min(cnt / w) AS tmax FROM j),
         |r AS (SELECT event_type, floor(1000000 * w * tmax / cnt) AS ppm
         |  FROM j CROSS JOIN t)
         |SELECT e.event_id, e.event_type, e.user_id
         |FROM events e JOIN r USING (event_type)
         |WHERE (((event_id % 100000007) * (2654435761 + 67867967) % 99999989)
         |    * 2246822519) % 1000000 < ppm""".stripMargin)),

    // === LLM-pipeline: dedup families ===================================

    ("q40_exact_dedup_groups", (s, d) =>
      Dedup.exactDedupKeepers(t(s, d, "documents"), "doc_id", Seq("text"))
        .select("keeper_id", "group_size"),
      Some("""SELECT min(doc_id) AS keeper_id, count(*) AS group_size
         |FROM documents GROUP BY text""".stripMargin)),

    ("q137_incremental_dedup", (s, d) => {
      // daily-batch dedup against a PERSISTED signature index: docs with
      // doc_id % 10 == 0 arrive as the new batch; the rest are the
      // existing corpus whose minhash signatures are already
      // materialized. Output = verified pairs touching the batch. The
      // oracle is the BRUTE-FORCE bipartite 3-shingle Jaccard at the
      // same threshold — sound because signatures AND verify use the
      // SAME measure (distinct 3-gram shingle sets, shingleN = 3): at
      // 16 bands × 4 rows a J ≥ 0.9 pair is missed with probability
      // (1−0.9⁴)¹⁶ ≈ 4e-8, so LSH recall is exactly 1 and candidate
      // generation + verify must reproduce the exact brute-force pair
      // set, whichever hash finds the candidates. A token-level
      // (shingleN = 1) variant is measure-consistent too but
      // DEGENERATE on this corpus at scale: long docs all cover the same
      // small vocabulary, token sets collide en masse, and the "near-dup
      // pair set" itself grows quadratically (~177k pairs at sf0.1);
      // 3-shingles keep word ORDER in the measure, so only the planted
      // near-duplicates qualify.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val isNew = col("doc_id") % 10 === 0
      val indexSigs = graft.dedup.NearDup.minhashSignatures(
        docs.filter(!isNew), "doc_id", "text", shingleN = 3)
      graft.dedup.NearDup.nearDupPairsIncremental(
        docs.filter(isNew), indexSigs, docs, "doc_id", "text",
        threshold = 0.9, shingleN = 3)
    }, Some("""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |    FOR i IN range(1, len(t) - 1)]) AS g
       |  FROM toks WHERE len(t) >= 3)
       |SELECT id1, id2, jaccard FROM (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
       |WHERE jaccard >= 0.9""".stripMargin)),

    ("q58_ngram_jaccard", (s, d) => {
      // exact token-set Jaccard over a deterministic pair list
      // (adjacent doc ids) — the verify primitive of the LSH pipeline
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2")),
          Seq("id1"))
      graft.dedup.NearDup.jaccardVerify(pairs, docs, "doc_id", "text")
    }, Some("""SELECT a.doc_id AS id1, b.doc_id AS id2,
       | CAST(len(list_intersect(list_distinct(regexp_split_to_array(a.text, '\s+')),
       |                         list_distinct(regexp_split_to_array(b.text, '\s+')))) AS DOUBLE)
       |   / len(list_distinct(list_concat(regexp_split_to_array(a.text, '\s+'),
       |                                   regexp_split_to_array(b.text, '\s+')))) AS jaccard
       |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""".stripMargin)),

    // === LLM-pipeline: text analysis ====================================

    ("q41_token_stats", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        TextOps.avgWordLen(col("text")).as("avg_word_len")),
      Some("""SELECT doc_id, n_tokens, n_chars_calc,
         | CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_word_len
         |FROM (SELECT doc_id,
         |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc FROM documents)""".stripMargin)),

    ("q42_text_quality", (s, d) =>
      // tokenize once; all three signals reference the token attribute
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextOps.hitCountToks(col("toks"), stopwords).as("stop_hits"),
          TextOps.wordRatioToks(col("toks"), stopwords).as("stop_ratio"),
          size(filter(col("toks"), t => length(t) > 5)).cast("long")
            .as("long_words")),
      Some(s"""SELECT doc_id,
         | CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |   w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS stop_hits,
         | CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |   w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
         |   / len(regexp_split_to_array(text, '\\s+')) AS stop_ratio,
         | CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> length(w) > 5)) AS BIGINT) AS long_words
         |FROM documents""".stripMargin)),

    ("q43_lang_id", (s, d) => {
      // tokenize once; five language scores share the token attribute
      val base = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select((col("doc_id") +: TextOps.langScoresToks(col("toks"))): _*)
      base.withColumn("predicted_lang", TextOps.langIdFromScores)
    }, Some {
      val langs = TextOps.LangMarkers.map(_._1)
      s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         | $langIdCaseSql AS predicted_lang
         |FROM ($langScoresSql)""".stripMargin
    }),

    ("q44_doc_fingerprint", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fingerprint")),
      Some("""SELECT doc_id,
         | list_reduce(
         |   list_prepend(CAST(0 AS BIGINT),
         |     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         |   (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
         |FROM documents""".stripMargin)),

    ("q72_repetition_filters", (s, d) =>
      // Gopher-style repetition signals, token/n-gram granularity: the
      // quality gates a corpus build runs before training. Tokens are
      // projected to a real column first so the n-gram lambdas reference
      // an attribute, not a re-evaluated split (see TextOps scaladoc).
      // Par.fan: four n-gram-fold projections per row, all in the
      // scan's one task on a single-file input. No-op at scale.
      graft.operators.Par.fan(t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), length(col("text")).as("tlen"),
          TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextOps.dupTokenFrac(col("toks")).as("dup_token_frac"),
          TextOps.topNgramCharFrac(col("toks"), col("tlen"), 2).as("top2_char_frac"),
          TextOps.topNgramCharFrac(col("toks"), col("tlen"), 3).as("top3_char_frac"),
          TextOps.dupNgramFrac(col("toks"), 5).as("dup5_frac")),
      Some({
        def grams(n: Int) =
          s"""list_transform(range(greatest(len(toks) - ${n - 1}, 0)),
             |   i -> array_to_string(list_slice(toks, i+1, i+$n), ' '))""".stripMargin
        def topFrac(g: String) =
          s"""CASE WHEN len($g) = 0 THEN 0.0 ELSE
             |  CAST(list_max(list_transform($g, x ->
             |    len(list_filter($g, y -> y = x)) * len(x))) AS DOUBLE) / len(text)
             |END""".stripMargin
        s"""WITH base AS (
           |  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
           |g AS (
           |  SELECT doc_id, text, toks, ${grams(2)} AS g2, ${grams(3)} AS g3,
           |    ${grams(5)} AS g5
           |  FROM base)
           |SELECT doc_id,
           |  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks)
           |    AS dup_token_frac,
           |  ${topFrac("g2")} AS top2_char_frac,
           |  ${topFrac("g3")} AS top3_char_frac,
           |  CASE WHEN len(g5) = 0 THEN 0.0 ELSE
           |    CAST(len(g5) - len(list_distinct(g5)) AS DOUBLE) / len(g5)
           |  END AS dup5_frac
           |FROM g""".stripMargin
      })),

    ("q73_pack_plan", (s, d) =>
      // concat-and-chunk sequence packing: which 512-token window does
      // each doc start in, at what offset — per-shard running sums, one
      // shuffle, deterministic on any cluster size
      graft.operators.Pack.packPlan(t(s, d, "documents"), "doc_id",
        TextOps.tokenCount(col("text")), nShards = 8, ctxTokens = 512),
      Some("""WITH toks AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
         |    ((doc_id % 100000007) * 2654435761) % 8 AS shard
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
         |  FROM toks)
         |SELECT doc_id, shard, n_tokens, start // 512 AS pack_seq,
         |  start % 512 AS pack_offset
         |FROM c""".stripMargin)),

    ("q74_group_percentiles", (s, d) => {
      // stratum-aware quality thresholds: percentile + decile of doc
      // length WITHIN each predicted language, so per-language filters
      // ("top 80% per lang") don't let a dominant language set the bar
      val scored = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id") +: size(col("toks")).cast("long").as("n_tokens") +:
          TextOps.langScoresToks(col("toks")): _*)
        .withColumn("lang", TextOps.langIdFromScores)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_tokens").asc, col("doc_id").asc)
      scored.select(col("doc_id"), col("lang"), col("n_tokens"),
        percent_rank().over(w).as("pct_rank"),
        ntile(10).over(w).cast("long").as("decile"))
    }, Some(s"""WITH lang AS (
       |  SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
       |    $langIdCaseSql AS lang
       |  FROM ($langScoresSql))
       |SELECT doc_id, lang, n_tokens,
       |  percent_rank() OVER w AS pct_rank,
       |  CAST(ntile(10) OVER w AS BIGINT) AS decile
       |FROM lang WINDOW w AS (PARTITION BY lang ORDER BY n_tokens, doc_id)""".stripMargin)),

    ("q75_vocab_freq", (s, d) =>
      // tokenizer-training precursor: corpus vocabulary with occurrence
      // and document frequencies, one explode + one partial-agg shuffle
      graft.text.Vocab.vocab(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT token, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
         |      FROM documents)
         |GROUP BY token""".stripMargin)),

    ("q76_tfidf_top_term", (s, d) =>
      // score rounded to 9 dp for the compare: JVM Math.log and libm ln
      // agree only to ~1 ULP, and the driver hashes exact bytes
      graft.text.Vocab.topTfidfTerm(t(s, d, "documents"), "doc_id", "text")
        .withColumn("score", round(col("score"), 9)),
      Some("""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf,
         |    CAST(tf.tf AS DOUBLE) * ln(CAST(n_total AS DOUBLE) / df) AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf AS DOUBLE) * ln(CAST(n_total AS DOUBLE) / df) DESC,
         |        tf.token) AS rn
         |  FROM tf JOIN dfr USING (token) CROSS JOIN tot)
         |SELECT doc_id, token, tf, round(score, 9) AS score
         |FROM scored WHERE rn = 1""".stripMargin)),

    ("q77_group_quantiles", (s, d) =>
      // exact interpolated per-group tail quantiles (the SLA/eval-report
      // shape); exact, not approx_percentile, so the oracle can match
      t(s, d, "events").groupBy("event_type").agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"),
        percentile(col("value"), lit(0.99)).as("p99"),
        count(lit(1)).as("n")),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS p50,
         |  quantile_cont(value, 0.95) AS p95,
         |  quantile_cont(value, 0.99) AS p99, count(*) AS n
         |FROM events GROUP BY event_type""".stripMargin)),

    // === LLM-pipeline: similarity search ================================

    ("q45_cosine_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
    }, Some("""SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       | row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id) AS rnk
       |FROM embeddings e
       |JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q ON e.vec_id <> q.vec_id
       |QUALIFY rnk <= 5""".stripMargin)),

    ("q136_ann_lsh_topk_portable", (s, d) => {
      // SRP-LSH top-k, hash-oracled: bucket equi-join in any of 8
      // tables -> exact cosine rank, where every plane sign
      // derives from the portable two-round multiplicative hash of its
      // (table, bit, dim) coordinate, so the planes CTE below re-derives
      // them in SQL and the WHOLE path — signatures, candidate set,
      // (cosine, id) ranking — is one hash compare. The projection fold
      // is replayed in exact order (prepend 0.0, ascending dim), so the
      // sign of every projection is bit-identical
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, bits = 8, dim = 64, tables = 8)
    }, Some("""WITH planes AS (
       |  SELECT tt.t, bb.b, jj.j,
       |    CASE WHEN (((tt.t*8 + bb.b)*64 + jj.j) % 100000007)
       |        * 2654435768 % 99999989 * 2246822519 % 1000000 < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(8) tt(t), range(8) bb(b), range(64) jj(j)),
       |proj AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w ORDER BY p.j)),
       |      (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t, p.b),
       |sig AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id, t),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM sig c JOIN sig q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
       |SELECT cand.query_id, cand.neighbor_id,
       |  row_number() OVER (PARTITION BY cand.query_id
       |    ORDER BY list_cosine_similarity(e.embedding, qe.embedding) DESC,
       |      cand.neighbor_id) AS rnk
       |FROM cand
       |JOIN embeddings e ON e.vec_id = cand.neighbor_id
       |JOIN embeddings qe ON qe.vec_id = cand.query_id
       |QUALIFY rnk <= 5""".stripMargin)),

    ("q47_embedding_norms", (s, d) =>
      t(s, d, "embeddings")
        .select(col("label"),
          Similarity.norm(Similarity.toDouble(col("embedding"))).cast(Money).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"), sum(col("nrm")).cast("double").as("total_norm")),
      Some("""SELECT label, count(*) AS cnt,
         | CAST(sum(CAST(sqrt(list_reduce(
         |   list_prepend(CAST(0 AS DOUBLE),
         |     list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |   (a, b) -> a + b)) AS DECIMAL(18,6))) AS DOUBLE) AS total_norm
         |FROM embeddings GROUP BY label""".stripMargin)),

    ("q83_label_centroids", (s, d) =>
      // per-label mean embedding (the IVF/k-means training primitive):
      // posexplode -> (label, dim) decimal-sum -> per-dimension mean.
      // Emitted as (label, pos, m) rows, not array<double>: the driver's
      // comparator cannot hash array columns, and the exploded form is
      // what the shuffle carries anyway (label×dim aggregate rows, not
      // vectors)
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("v"))
        .groupBy("label", "pos")
        .agg(dsum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("label"), col("pos"), (col("s") / col("n")).as("m")),
      Some("""WITH x AS (
         |  SELECT label, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
         |  FROM embeddings, range(0, 64) t(i)),
         |m AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
         |  FROM x GROUP BY 1, 2)
         |SELECT label, pos, m FROM m""".stripMargin)),

    ("q84_winsorized_stats", (s, d) => {
      // robust per-stratum stats: clip to [p05, p95] (exact interpolated
      // bounds, IEEE-identical cross-engine) then decimal-exact means —
      // the outlier-insensitive aggregate a quality dashboard wants
      val ev = t(s, d, "events")
      val bounds = ev.groupBy("event_type").agg(
        percentile(col("value"), lit(0.05)).as("lo"),
        percentile(col("value"), lit(0.95)).as("hi"))
      ev.join(bounds, "event_type")
        .select(col("event_type"), col("value"),
          least(greatest(col("value"), col("lo")), col("hi")).as("clipped"))
        .groupBy("event_type")
        .agg(davg(col("value")).as("raw_mean"),
          davg(col("clipped")).as("winsorized_mean"),
          count(lit(1)).as("n"))
    }, Some(s"""WITH b AS (
       |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
       |    quantile_cont(value, 0.95) AS hi
       |  FROM events GROUP BY 1),
       |c AS (
       |  SELECT e.event_type, value,
       |    least(greatest(value, lo), hi) AS clipped
       |  FROM events e JOIN b USING (event_type))
       |SELECT event_type, ${dsumSql("value")} / count(*) AS raw_mean,
       |  ${dsumSql("clipped")} / count(*) AS winsorized_mean,
       |  count(*) AS n
       |FROM c GROUP BY event_type""".stripMargin)),

    ("q85_edit_distance", (s, d) => {
      // character-level near-dup verify over the adjacent-pair list:
      // exact Levenshtein (codegen'd built-in) + normalized similarity
      val docs = t(s, d, "documents").select("doc_id", "text")
      // Par.fan on the probe side: the per-pair Levenshtein DP (the
      // whole cost of this query) runs after a broadcast join, i.e. at
      // the SCAN's task count — one core for a single-file input.
      // No-op at scale.
      graft.operators.Par.fan(
          docs.select(col("doc_id").as("id1"), col("text").as("t1")),
          col("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"),
          col("doc_id").as("id2"), col("text").as("t2")), Seq("id1"))
        .select(col("id1"), col("id2"),
          levenshtein(col("t1"), col("t2")).cast("long").as("edit_dist"),
          (lit(1.0) - levenshtein(col("t1"), col("t2")).cast("double") /
            greatest(length(col("t1")), length(col("t2")))).as("similarity"))
    }, Some("""SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
       |    greatest(len(a.text), len(b.text)) AS similarity
       |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""".stripMargin)),

    ("q54_embedding_near_dup", (s, d) => {
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      // scaled copies keep cosine exactly 1 — guaranteed true near-dups
      val scaled = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      // 16-bit buckets: near-identical vectors agree on every sign bit,
      // so wider buckets cut random collisions without losing recall.
      // Only the pair ids are emitted (cosine's last double bit differs
      // between engines); the oracle is DuckDB's brute-force truth set,
      // which at this corpus is exactly the 500 scaled pairs.
      Similarity.cosineNearDupPairs(emb.unionByName(scaled), "vec_id", "embedding",
        threshold = 0.999, bits = 16, dim = 64, tables = 8)
        .select("id1", "id2")
    }, Some("""WITH u AS (
       | SELECT vec_id, embedding FROM embeddings
       | UNION ALL
       | SELECT vec_id + 1000000,
       |        list_transform(embedding, x -> x * CAST(1.5 AS FLOAT))
       | FROM embeddings)
       |SELECT a.vec_id AS id1, b.vec_id AS id2
       |FROM u a JOIN u b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999""".stripMargin)),

    ("q201_mixture_schedule", (s, d) =>
      // the published mixing table of a training recipe: per-language
      // token counts from the corpus, target weights, a 1M-token
      // budget — emits exact-integer target tokens and epochs (ppm;
      // >1e6 = upsampled source, the regime q79's row-level
      // downsampling cannot express)
      graft.operators.Sample.mixtureSchedule(
        t(s, d, "documents")
          .groupBy(col("lang").as("source"))
          .agg(sum(graft.text.TextOps.tokenCount(col("text")))
            .as("n_tokens")),
        "source", "n_tokens",
        weights = Map("en" -> 0.6, "fr" -> 0.25, "de" -> 0.15),
        budgetTokens = 1000000L),
      Some("""WITH tc AS (
         |  SELECT lang AS source,
         |    CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY 1 HAVING n_tokens > 0),
         |w AS (SELECT * FROM (VALUES
         |  ('en', CAST(0.6 AS DECIMAL(18,6))),
         |  ('fr', CAST(0.25 AS DECIMAL(18,6))),
         |  ('de', CAST(0.15 AS DECIMAL(18,6)))) t(source, w)),
         |j AS (SELECT tc.source, n_tokens, w,
         |    sum(w) OVER () AS sumw
         |  FROM tc JOIN w USING (source)),
         |p AS (SELECT source, n_tokens,
         |    CAST(floor(1000000 * (CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE)))
         |      AS BIGINT) AS weight_ppm
         |  FROM j)
         |SELECT source, n_tokens, weight_ppm,
         |  1000000 * weight_ppm // 1000000 AS target_tokens,
         |  (1000000 * weight_ppm // 1000000) * 1000000 // n_tokens
         |    AS epochs_ppm
         |FROM p""".stripMargin)),

    ("q202_domain_signals", (s, d) =>
      // host/domain-level curation rollup: per-source doc count, token
      // mass, exact-duplicate rate, and Gopher-rule failure rate — the
      // table a web-corpus curation run turns into domain blocklists
      // and sampling weights. One digest groupBy + one id join + one
      // domain rollup, every ratio exact integer ppm. minTokens=10
      // sized to this corpus like q193.
      graft.text.DomainSignals.domainSignals(t(s, d, "documents"),
        "source", "doc_id", "text", stopwords, minTokens = 10),
      Some(s"""WITH d AS (
         |  SELECT doc_id, source, text,
         |    regexp_split_to_array(text, '\\s+') AS t
         |  FROM documents),
         |sg AS (SELECT doc_id, source, text,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  (CAST(len(t) AS BIGINT) BETWEEN 10 AND 100000
         |    AND CAST(list_reduce(list_prepend(0, list_transform(t,
         |        x -> len(x))), (a, b) -> a + b) AS BIGINT)
         |      * 1000000 // CAST(len(t) AS BIGINT)
         |      BETWEEN 3000000 AND 10000000
         |    AND CAST(len(list_filter(t,
         |        x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
         |      * 1000000 // CAST(len(t) AS BIGINT) >= 800000
         |    AND CAST(len(list_filter(t, x -> list_contains(
         |        [${stopwords.map("'" + _ + "'").mkString(", ")}], x)))
         |      AS BIGINT) >= 2) AS keep
         | FROM d),
         |dup AS (SELECT text, count(*) AS n FROM documents GROUP BY 1)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_docs,
         |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // CAST(count(*) AS BIGINT) AS dup_ppm,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         |    AS fail_docs,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         |    * 1000000 // CAST(count(*) AS BIGINT) AS quality_fail_ppm
         |FROM sg JOIN dup USING (text)
         |GROUP BY 1""".stripMargin)),

    ("q204_sequence_pack", (s, d) => {
      // GLOBAL concat-and-split sequence packing: q73's layout without
      // the shard compromise — one corpus-wide token stream, globally
      // meaningful sequence ids (resume points, epoch boundaries),
      // plus the span count q73 doesn't expose. Affordable because the
      // running token sum is Ranks.prefixSum (bucket-distributed), not
      // a global window.
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Pack.concatSplit(docs, "doc_id", "n_tokens", 512L)
    }, Some("""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS pre
       |  FROM d WHERE n_tokens > 0)
       |SELECT doc_id, n_tokens,
       |  pre // 512 AS seq_id,
       |  pre % 512 AS offset_in_seq,
       |  (pre + n_tokens - 1) // 512 - pre // 512 + 1 AS spans
       |FROM p""".stripMargin)),

    ("q205_pack_stats", (s, d) => {
      // the packing-quality report over q204's assignment: docs
      // starting per sequence, tokens they bring, boundary crossers —
      // what a pipeline inspects before committing a corpus layout
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Pack.packStats(
        graft.operators.Pack.concatSplit(docs, "doc_id", "n_tokens", 512L),
        "n_tokens")
    }, Some("""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS pre
       |  FROM d WHERE n_tokens > 0),
       |a AS (
       |  SELECT doc_id, n_tokens, pre // 512 AS seq_id,
       |    (pre + n_tokens - 1) // 512 - pre // 512 + 1 AS spans
       |  FROM p)
       |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
       |  CAST(sum(CASE WHEN spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS boundary_docs
       |FROM a GROUP BY 1""".stripMargin)),

    ("q206_incremental_neardup", (s, d) => {
      // daily-append near-dup delta, STATEFUL form: the ordering stats
      // and prefix index are built once over the standing corpus
      // (graft.dedup.PrefixIndex — persisted tables in deployment),
      // then the batch costs O(batch + touched buckets): no union-wide
      // frequency re-aggregate, no base x base candidate. Every
      // Jaccard>=0.9 pair involving at least one INCOMING doc; exact
      // recall under the frozen build-time order (PrefixIndex doc).
      // Incoming = every 37th doc re-identified (guaranteed planted
      // dups) so the delta is non-trivial; oracle brute-forces the
      // restricted pair set over the union.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val incoming = docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val state = graft.dedup.PrefixIndex.build(
        docs, "doc_id", "text", threshold = 0.9, shingleN = 3)
      graft.dedup.PrefixIndex.deltaPairs(incoming, state, docs,
        "doc_id", "text", threshold = 0.9, shingleN = 3)._1
    }, Some("""WITH u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents
       |  WHERE doc_id % 37 = 0),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM u),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
       |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS un(i)
       |  WHERE len(tk) >= 3),
       |gs AS (SELECT doc_id, list(g) AS gs FROM sh GROUP BY 1)
       |SELECT DISTINCT
       |  least(a.doc_id, b.doc_id) AS id1,
       |  greatest(a.doc_id, b.doc_id) AS id2,
       |  CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
       |FROM gs a JOIN gs b
       |  ON a.doc_id <> b.doc_id AND b.doc_id >= 1000000
       |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(a.gs, b.gs))) >= 0.9""".stripMargin)),

    ("q207_exact_neardup_stream", (s, d) =>
      // the streaming face of q165, certified batch-equivalently: a
      // real exactNearDupSink StreamingQuery consumes the documents
      // table in three staged micro-batches (doc_id % 3, files landing
      // between processAllAvailable fences), each batch exact-joining
      // the accumulated corpus; the telescoped pairs/ table must
      // hash-match the one-shot prefixFilterPairs oracle over the
      // whole corpus — every pair found exactly once, at the batch its
      // later member arrived.
      Replay.withTempRoot("graft_q207_") { tmp =>
        val feed = s"$tmp/feed"
        val docs = t(s, d, "documents").select("doc_id", "text")
        def third(r: Int) = docs.filter(col("doc_id") % 3 === r).coalesce(1)
        Replay.stage(third(0), feed, 1)
        Replay.drive(s) {
          Streams.exactNearDupSink(Replay.source(s, feed), "doc_id", "text",
            s"$tmp/nd", s"$tmp/ckpt", threshold = 0.9, shingleN = 3)
        }(() => Replay.stage(third(1), feed, 2),
          () => Replay.stage(third(2), feed, 3))
        s.read.parquet(s"$tmp/nd/pairs")
          .select("id1", "id2", "jaccard")
          .localCheckpoint(true)
      }, Some("""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
       |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
       |  WHERE len(tk) >= 3),
       |gs AS (SELECT doc_id, list(g) AS gs FROM sh GROUP BY 1)
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
       |FROM gs a JOIN gs b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(a.gs, b.gs))) >= 0.9""".stripMargin)),

    ("q208_ntile", (s, d) =>
      // exact equi-depth binning with SQL NTILE semantics (first
      // n mod k tiles take the extra row) on the distributed Ranks
      // bucket scheme — the built-in ntile window compiles to the
      // single-task global sort this registry bans; tiebreaks make
      // the order total so tie placement is engine-identical
      graft.operators.Ranks.ntile(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        16, "l_extendedprice", ascending = true,
        tiebreaks = Seq("l_orderkey", "l_linenumber"), out = "tile")
        .select("l_orderkey", "l_linenumber", "tile"),
      Some("""SELECT l_orderkey, l_linenumber,
         |  CAST(ntile(16) OVER (ORDER BY l_extendedprice, l_orderkey,
         |    l_linenumber) AS BIGINT) AS tile
         |FROM lineitem""".stripMargin)),

    ("q209_epoch_order", (s, d) =>
      // deterministic training-order shuffle for epoch 7: position =
      // global row number over the multiplier-seeded portable hash —
      // a pure function of (doc_id, epoch), identical on any layout
      // or engine, resumable mid-epoch; the oracle recomputes the
      // same permutation from the hash formula itself
      graft.operators.Sample.epochOrder(
        t(s, d, "documents").select("doc_id"), "doc_id", epoch = 7),
      Some("""SELECT doc_id,
         |  row_number() OVER (ORDER BY
         |    ((((doc_id % 100000007) * (2654435761 + 7)) % 99999989)
         |      * 2246822519) % 1000000000,
         |    doc_id) AS train_pos
         |FROM documents""".stripMargin)),

    ("q210_epoch_pack", (s, d) =>
      // one training epoch's full sequence layout: documents in the
      // epoch-3 deterministic shuffle order (multiplier-seeded portable
      // hash), concatenated and split every 512 tokens — the
      // pretraining data-prep shape, reproducible on any cluster or
      // file layout and resumable mid-epoch from seq_id; the running
      // token sum is Ranks.prefixSum, never a single-task window
      graft.operators.Pack.epochPack(
        t(s, d, "documents").select(col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", 512L, epoch = 3),
      Some("""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
         |      AS n_tokens,
         |    ((((doc_id % 100000007) * (2654435761 + 3)) % 99999989)
         |      * 2246822519) % 1000000000 AS ek
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY ek ASC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS pre
         |  FROM d WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens,
         |  pre // 512 AS seq_id,
         |  pre % 512 AS offset_in_seq,
         |  (pre + n_tokens - 1) // 512 - pre // 512 + 1 AS spans
         |FROM p""".stripMargin)),

    ("q211_rag_chunks", (s, d) =>
      // retrieval-index preparation: 64-token sliding windows every 48
      // tokens (16-token overlap carries context across boundaries);
      // closed-form LONG chunk count, pure projection + explode — no
      // shuffle, linear at any corpus size
      graft.text.TextOps.chunkRows(
        t(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", chunkTokens = 64, stride = 48),
      Some("""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk,
         |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n
         |  FROM documents),
         |c AS (SELECT doc_id, tk, n,
         |  (greatest(n - 64, 0) + 47) // 48 + 1 AS nc FROM d)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |  array_to_string(tk[CAST(i*48+1 AS BIGINT):CAST(i*48+64 AS BIGINT)],
         |    ' ') AS chunk_text,
         |  least(64, n - i*48) AS chunk_tokens
         |FROM c, UNNEST(range(0, nc)) AS u(i)""".stripMargin)),

    ("q212_source_leakage_matrix", (s, d) => {
      // which sources duplicate which: the exact near-dup pair set
      // (q165's oracled prefix-filter primitive) rolled up to a
      // source x source leakage matrix — the cross-corpus
      // contamination signal behind source-level dedup priorities and
      // license audits. Canonical (least, greatest) source keys fold
      // both directions; max (not avg) keeps the double aggregation
      // order-insensitive for the hash compare.
      val docs = t(s, d, "documents").select("doc_id", "text", "source")
      val pairs = graft.dedup.NearDup.prefixFilterPairs(
        docs.select("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, shingleN = 3)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id1"), col("source").as("s1")),
          Seq("id1"))
        .join(src.select(col("doc_id").as("id2"), col("source").as("s2")),
          Seq("id2"))
        .select(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"), col("jaccard"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
    }, Some("""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
       |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
       |  WHERE len(tk) >= 3),
       |gs AS (SELECT doc_id, list(g) AS gs FROM sh GROUP BY 1),
       |pr AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
       |      len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
       |  FROM gs a JOIN gs b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
       |      len(list_distinct(list_concat(a.gs, b.gs))) >= 0.9),
       |m AS (
       |  SELECT least(d1.source, d2.source) AS source_a,
       |    greatest(d1.source, d2.source) AS source_b, jaccard
       |  FROM pr
       |  JOIN documents d1 ON d1.doc_id = pr.id1
       |  JOIN documents d2 ON d2.doc_id = pr.id2)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  max(jaccard) AS max_jaccard
       |FROM m GROUP BY 1, 2""".stripMargin)),

    ("q213_budget_fill", (s, d) => {
      // quality-first token-budget selection: fill a 10k-token corpus
      // with the least-repetitive documents (lowest duplicate-token
      // fraction first, doc_id tiebreak); the crossing doc is
      // included. The running total is Ranks.prefixSum — the kept set
      // is an exact prefix of the quality order with no single-task
      // global window anywhere.
      // scoring tokenizes + distincts every doc — checkpoint before the
      // rank per the Ranks caller contract (prefixSum reads its input
      // three times; re-deriving the scorer measured 16.1 s at the sf1
      // soak vs 3.0 s checkpointed, decade ratio 6.9x -> 3.7x)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          graft.text.TextOps.dupTokenFrac(col("toks")).as("dup_frac"))
        .localCheckpoint(true)
      graft.operators.Sample.budgetFill(docs, "doc_id", "n_tokens",
        "dup_frac", budgetTokens = 10000L, bestFirst = false)
    }, Some("""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |    CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / len(tk)
       |      AS dup_frac
       |  FROM d),
       |p AS (
       |  SELECT doc_id, n_tokens, dup_frac,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY dup_frac ASC,
       |      doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1
       |      PRECEDING), 0) AS BIGINT) AS cum_tokens_before
       |  FROM sc)
       |SELECT doc_id, n_tokens, dup_frac, cum_tokens_before
       |FROM p WHERE cum_tokens_before < 10000""".stripMargin)),

    ("q214_domain_quota", (s, d) =>
      // domain-cap curation: no source contributes more than 25 docs,
      // keeping its LONGEST ones (n_chars desc, doc_id tiebreak) — the
      // deterministic complement of hash-random weightedSample. Plans
      // as WindowGroupLimit: map-side top-k per source before the
      // exchange, so a corpus-scale source never funnels whole.
      graft.operators.Sample.quotaPerStratum(
        t(s, d, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", k = 25, bestFirst = true,
        tiebreaks = Seq("doc_id")),
      Some("""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM documents) WHERE rn <= 25""".stripMargin)),

    ("q215_oov_rate", (s, d) =>
      // lexical novelty / garbage signal: per-doc fraction of tokens
      // outside the corpus's own top-16 head vocabulary (count desc,
      // token asc cutoff) — a doc mostly missing the head vocabulary
      // is boilerplate, another language, or noise. Vocabulary is a
      // distributed partial top-k; the membership join broadcasts it.
      graft.text.Vocab.oovRate(
        t(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", vocabSize = 16),
      Some("""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+'))
         |    AS token
         |  FROM documents),
         |voc AS (
         |  SELECT token, 1 AS hit FROM (
         |    SELECT token, count(*) AS c FROM tok GROUP BY 1
         |    ORDER BY c DESC, token ASC LIMIT 16)),
         |j AS (SELECT tok.doc_id, voc.hit
         |      FROM tok LEFT JOIN voc USING (token))
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS oov_tokens,
         |  CAST(sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS oov_frac
         |FROM j GROUP BY doc_id""".stripMargin)),

    ("q216_stream_sessions", (s, d) =>
      // the mapGroupsWithState face, gated batch-equivalently: a real
      // StreamingQuery folds the events table through userSessions'
      // typed per-user state across 3 staged micro-batches, each
      // batch's emitted updates land under batch=<id>; the LAST update
      // per user (keep-latest by batch) must equal the from-scratch
      // GROUP BY — running totals fold in DECIMAL so the telescoped
      // state is bit-exact regardless of iterator order.
      Replay.withTempRoot("graft_q216_") { tmp =>
        import s.implicits._
        val feed = s"$tmp/feed"
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("value").cast("decimal(18,6)").as("value"))
        def third(r: Int) = ev.filter(col("event_id") % 3 === r).coalesce(1)
        Replay.stage(third(0), feed, 1)
        Replay.drive(s) {
          Streams.userSessions(Replay.source(s, feed)
              .select(col("user_id"), col("ts"), col("value"))
              .as[Streams.UserEvent])
            .writeStream
            .option("checkpointLocation", s"$tmp/ckpt")
            .outputMode("update")
            .foreachBatch { (b: org.apache.spark.sql.Dataset[
                Streams.UserSession], id: Long) =>
              b.write.mode("overwrite").parquet(s"$tmp/updates/batch=$id")
              ()
            }
            .start()
        }(() => Replay.stage(third(1), feed, 2),
          () => Replay.stage(third(2), feed, 3))
        Dedup.keepLatest(
            s.read.parquet(s"$tmp/updates"), Seq("user_id"), "batch")
          .select(col("user_id"), col("events"),
            col("total").cast("double").as("total"),
            col("lastSeen").as("last_seen"))
          .localCheckpoint(true)
      }, Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS events,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
       |  max(ts) AS last_seen
       |FROM events GROUP BY user_id""".stripMargin)),

    ("q217_grouped_quantiles", (s, d) =>
      // exact per-event-type value percentiles (PERCENTILE_DISC at
      // ceil(q*n), event_id tiebreak) via the GROUPED bucket scheme:
      // `OVER (PARTITION BY event_type)` funnels each of the ~5 types
      // through ONE task at fact scale — here per-group cuts
      // distribute every group across (group × bucket) tasks and the
      // target-rank pick is a broadcast equi-join
      graft.operators.Ranks.groupedQuantiles(
        t(s, d, "events")
          .select(col("event_type"), col("event_id"), col("value")),
        "event_type", "value", Seq(0.5, 0.95, 0.99),
        tiebreaks = Seq("event_id")),
      Some("""WITH r AS (
         |  SELECT event_type, event_id, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value ASC, event_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events),
         |p AS (SELECT CAST(prob AS DOUBLE) AS prob, prob AS pd
         |      FROM (VALUES (0.5), (0.95), (0.99)) AS t(prob))
         |SELECT event_type, prob, value
         |FROM r JOIN p ON rn = CAST(ceil(pd * n) AS BIGINT)""".stripMargin)),

    ("q218_group_decile_floor", (s, d) => {
      // per-language quality floor: drop each language's shortest
      // decile (bottom floor(n/10) docs by n_chars, doc_id tiebreak) —
      // the per-stratum curation cut a multilingual corpus needs
      // (a GLOBAL decile cut would gut whichever language runs short).
      // Ranks.rowNumberGrouped keeps every language distributed; the
      // cut itself is pure integer arithmetic on exact counts.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val ranked = graft.operators.Ranks.rowNumberGrouped(
        docs, "lang", "n_chars", ascending = true,
        tiebreaks = Seq("doc_id"), out = "__rn")
      val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
      ranked.join(broadcast(n), Seq("lang"))
        .filter(col("__rn") > expr("__n div 10"))
        .select("doc_id", "lang", "n_chars")
    }, Some("""WITH r AS (
       |  SELECT doc_id, lang, n_chars,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY n_chars ASC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM documents)
       |SELECT doc_id, lang, n_chars FROM r WHERE rn > n // 10""".stripMargin)),

    ("q219_nb_token_model", (s, d) =>
      // model-based quality filtering, train step (the GPT-3/CCNet
      // recipe): Laplace-smoothed NB token log-odds separating the
      // "trusted" class (here: lang='en') from the rest. One token
      // groupBy + a broadcast 1-row totals frame; the model stays a
      // vocab-sized DataFrame. ln rounded to 9 dp per the q114 rule.
      graft.text.QualityClassifier.nbTrain(
        t(s, d, "documents"), "text", col("lang") === "en"),
      Some("""WITH tok AS (
       |  SELECT (lang = 'en') AS pos,
       |    unnest(regexp_split_to_array(text, '\s+')) AS token
       |  FROM documents),
       |cnt AS (
       |  SELECT token,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
       |  FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
       |  CAST(sum(c_neg) AS BIGINT) AS n_neg, count(*) AS v FROM cnt)
       |SELECT token, c_pos, c_neg,
       |  round(ln(((CAST(c_pos AS DOUBLE) + 1) / (n_pos + v)) /
       |           ((CAST(c_neg AS DOUBLE) + 1) / (n_neg + v))), 9) AS w
       |FROM cnt CROSS JOIN tot""".stripMargin)),

    ("q220_nb_doc_scores", (s, d) => {
      // score step: every document's tf-weighted NB evidence under the
      // q219 model — the keep/drop signal a quality-filtered corpus
      // thresholds on. The (doc,token) tf equi-joins the model ON THE
      // TOKEN (both sides hashed by it — a 10M-term vocab never
      // broadcasts); the per-doc sum rides DECIMAL(18,6).
      val docs = t(s, d, "documents")
      val model = graft.text.QualityClassifier.nbTrain(
        docs, "text", col("lang") === "en")
      graft.text.QualityClassifier.nbScore(docs, "doc_id", "text", model)
        .withColumn("keep", col("score") > 0)
    }, Some(s"""$nbScoreSql
       |SELECT doc_id, n_tokens, score, score > 0 AS keep
       |FROM sc""".stripMargin)),

    ("q221_perceptron_quality", (s, d) => {
      // the ITERATIVE quality classifier, exact to the bit: a batch
      // perceptron (integer features, labels ±1, lr=1) over doc
      // length / lexical diversity / an anchor-stopword count. Each
      // epoch is ONE map-side-combinable aggregate pulling d+1 longs
      // to the driver (the codebook-sized-pull exception); the
      // feature frame is checkpointed because the loop reads it once
      // per epoch (the q213 contract). No floating point anywhere.
      val cols = Seq("f_bias", "f_tokens", "f_distinct", "f_marker")
      val feats = graft.text.QualityClassifier
        .tokenFeatures(t(s, d, "documents"), "doc_id", "text",
          marker = "the")
        .join(t(s, d, "documents")
          .select(col("doc_id"),
            when(col("lang") === "en", 1L).otherwise(-1L).as("y")),
          Seq("doc_id"))
        .localCheckpoint(true)
      val w = graft.text.QualityClassifier
        .perceptronTrain(feats, "y", cols, epochs = 3)
      graft.text.QualityClassifier.perceptronScore(feats, cols, w)
        .select(col("doc_id"), col("f_tokens"), col("f_distinct"),
          col("f_marker"), col("margin"), col("pred"))
    }, Some("""WITH f AS (
       |  SELECT doc_id,
       |    CAST(1 AS BIGINT) AS x0,
       |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS x1,
       |    CAST(len(list_distinct(regexp_split_to_array(text, '\s+')))
       |      AS BIGINT) AS x2,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
       |      t -> t = 'the')) AS BIGINT) AS x3,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y
       |  FROM documents),
       |w1 AS (
       |  SELECT CAST(sum(y * x0) AS BIGINT) AS a0,
       |    CAST(sum(y * x1) AS BIGINT) AS a1,
       |    CAST(sum(y * x2) AS BIGINT) AS a2,
       |    CAST(sum(y * x3) AS BIGINT) AS a3
       |  FROM f),
       |w2 AS (
       |  SELECT
       |    w1.a0 + CAST(sum(CASE WHEN y * (w1.a0*x0 + w1.a1*x1 + w1.a2*x2
       |      + w1.a3*x3) <= 0 THEN y * x0 ELSE 0 END) AS BIGINT) AS a0,
       |    w1.a1 + CAST(sum(CASE WHEN y * (w1.a0*x0 + w1.a1*x1 + w1.a2*x2
       |      + w1.a3*x3) <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS a1,
       |    w1.a2 + CAST(sum(CASE WHEN y * (w1.a0*x0 + w1.a1*x1 + w1.a2*x2
       |      + w1.a3*x3) <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS a2,
       |    w1.a3 + CAST(sum(CASE WHEN y * (w1.a0*x0 + w1.a1*x1 + w1.a2*x2
       |      + w1.a3*x3) <= 0 THEN y * x3 ELSE 0 END) AS BIGINT) AS a3
       |  FROM f CROSS JOIN w1 GROUP BY w1.a0, w1.a1, w1.a2, w1.a3),
       |w3 AS (
       |  SELECT
       |    w2.a0 + CAST(sum(CASE WHEN y * (w2.a0*x0 + w2.a1*x1 + w2.a2*x2
       |      + w2.a3*x3) <= 0 THEN y * x0 ELSE 0 END) AS BIGINT) AS a0,
       |    w2.a1 + CAST(sum(CASE WHEN y * (w2.a0*x0 + w2.a1*x1 + w2.a2*x2
       |      + w2.a3*x3) <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS a1,
       |    w2.a2 + CAST(sum(CASE WHEN y * (w2.a0*x0 + w2.a1*x1 + w2.a2*x2
       |      + w2.a3*x3) <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS a2,
       |    w2.a3 + CAST(sum(CASE WHEN y * (w2.a0*x0 + w2.a1*x1 + w2.a2*x2
       |      + w2.a3*x3) <= 0 THEN y * x3 ELSE 0 END) AS BIGINT) AS a3
       |  FROM f CROSS JOIN w2 GROUP BY w2.a0, w2.a1, w2.a2, w2.a3)
       |SELECT doc_id, x1 AS f_tokens, x2 AS f_distinct, x3 AS f_marker,
       |  a0*x0 + a1*x1 + a2*x2 + a3*x3 AS margin,
       |  (a0*x0 + a1*x1 + a2*x2 + a3*x3) > 0 AS pred
       |FROM f CROSS JOIN w3""".stripMargin)),

    ("q222_bitext_mining", (s, d) => {
      // cross-lingual bitext mining (CCMatrix/LASER): for every
      // English document vector, the margin-criterion best match on
      // the German side — cosine over the mean of both endpoints'
      // k-NN neighborhoods, which demotes hub vectors that absolute
      // cosine would pick for everything. Brute bipartite (the
      // recall yardstick; Bitext.mineLsh is the bucketed scale path,
      // recall-tested in BitextSpec). The oracle replays ArrayDot's
      // sequential fold ORDER BY dimension, so cosines, decimal
      // neighborhood means, and rounded margins are one hash compare.
      val emb = t(s, d, "embeddings")
      val lang = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val labeled = emb.join(lang, emb("vec_id") === lang("doc_id"))
        .select(col("vec_id"), col("embedding"), col("lang"))
      graft.sim.Bitext.mine(
        labeled.filter(col("lang") === "en").select("vec_id", "embedding"),
        labeled.filter(col("lang") === "de").select("vec_id", "embedding"),
        "vec_id", "embedding", k = 4)
    }, Some("""WITH lab AS (SELECT doc_id, lang FROM documents),
       |sv AS (SELECT vec_id, embedding FROM embeddings e
       |  JOIN lab ON lab.doc_id = e.vec_id WHERE lang = 'en'),
       |tv AS (SELECT vec_id, embedding FROM embeddings e
       |  JOIN lab ON lab.doc_id = e.vec_id WHERE lang = 'de'),
       |se AS (SELECT vec_id, t.i - 1 AS j, CAST(embedding[t.i] AS DOUBLE) AS v
       |  FROM sv CROSS JOIN range(1, 65) t(i)),
       |te AS (SELECT vec_id, t.i - 1 AS j, CAST(embedding[t.i] AS DOUBLE) AS v
       |  FROM tv CROSS JOIN range(1, 65) t(i)),
       |sn AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(v * v ORDER BY j)), (a, b) -> a + b)) AS nrm
       |  FROM se GROUP BY vec_id),
       |tn AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(v * v ORDER BY j)), (a, b) -> a + b)) AS nrm
       |  FROM te GROUP BY vec_id),
       |p AS (SELECT x.vec_id AS src_id, y.vec_id AS tgt_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(x.v * y.v ORDER BY x.j)), (a, b) -> a + b)
       |      / (sn.nrm * tn.nrm), 9) AS c
       |  FROM se x JOIN te y ON x.j = y.j
       |  JOIN sn ON sn.vec_id = x.vec_id
       |  JOIN tn ON tn.vec_id = y.vec_id
       |  GROUP BY x.vec_id, y.vec_id, sn.nrm, tn.nrm),
       |ms AS (SELECT src_id,
       |    CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT src_id, c, row_number() OVER (PARTITION BY src_id
       |      ORDER BY c DESC, tgt_id) AS rn FROM p)
       |  WHERE rn <= 4 GROUP BY src_id),
       |mt AS (SELECT tgt_id,
       |    CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT tgt_id, c, row_number() OVER (PARTITION BY tgt_id
       |      ORDER BY c DESC, src_id) AS rn FROM p)
       |  WHERE rn <= 4 GROUP BY tgt_id)
       |SELECT src_id, tgt_id,
       |  round(p.c / ((ms.m + mt.m) / 2), 6) AS margin
       |FROM p JOIN ms USING (src_id) JOIN mt USING (tgt_id)
       |QUALIFY row_number() OVER (PARTITION BY src_id
       |  ORDER BY margin DESC, tgt_id) = 1""".stripMargin)),

    ("q223_bitext_lsh_portable", (s, d) => {
      // q222's SCALE shape, CORRECTNESS-gated: candidates confined to
      // multi-table SRP bucket collisions with the portable-hash
      // planes (the q136 discipline), neighborhood means over the
      // surviving candidates only — the pair table is Σ per-bucket
      // products, never the |en|×|de| bipartite product. The oracle
      // re-derives planes, signatures, the collision set, and the
      // margin machinery, so the whole path is one hash compare.
      val emb = t(s, d, "embeddings")
      val lang = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val labeled = emb.join(lang, emb("vec_id") === lang("doc_id"))
        .select(col("vec_id"), col("embedding"), col("lang"))
      graft.sim.Bitext.mineLsh(
        labeled.filter(col("lang") === "en").select("vec_id", "embedding"),
        labeled.filter(col("lang") === "de").select("vec_id", "embedding"),
        "vec_id", "embedding", k = 4, bits = 8, dim = 64, tables = 8)
    }, Some("""WITH planes AS (
       |  SELECT tt.t, bb.b, jj.j,
       |    CASE WHEN (((tt.t*8 + bb.b)*64 + jj.j) % 100000007)
       |        * 2654435768 % 99999989 * 2246822519 % 1000000 < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(8) tt(t), range(8) bb(b), range(64) jj(j)),
       |lab AS (SELECT doc_id, lang FROM documents),
       |sv AS (SELECT vec_id, embedding FROM embeddings e
       |  JOIN lab ON lab.doc_id = e.vec_id WHERE lang = 'en'),
       |tv AS (SELECT vec_id, embedding FROM embeddings e
       |  JOIN lab ON lab.doc_id = e.vec_id WHERE lang = 'de'),
       |proj AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w ORDER BY p.j)),
       |      (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t, p.b),
       |sig AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM proj GROUP BY vec_id, t),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS src_id, c.vec_id AS tgt_id
       |  FROM sig a JOIN sig c ON a.t = c.t AND a.bucket = c.bucket
       |  WHERE a.vec_id IN (SELECT vec_id FROM sv)
       |    AND c.vec_id IN (SELECT vec_id FROM tv)),
       |se AS (SELECT vec_id, t.i - 1 AS j, CAST(embedding[t.i] AS DOUBLE) AS v
       |  FROM sv CROSS JOIN range(1, 65) t(i)),
       |te AS (SELECT vec_id, t.i - 1 AS j, CAST(embedding[t.i] AS DOUBLE) AS v
       |  FROM tv CROSS JOIN range(1, 65) t(i)),
       |sn AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(v * v ORDER BY j)), (a, b) -> a + b)) AS nrm
       |  FROM se GROUP BY vec_id),
       |tn AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(v * v ORDER BY j)), (a, b) -> a + b)) AS nrm
       |  FROM te GROUP BY vec_id),
       |p AS (SELECT cd.src_id, cd.tgt_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(x.v * y.v ORDER BY x.j)), (a, b) -> a + b)
       |      / (sn.nrm * tn.nrm), 9) AS c
       |  FROM cand cd
       |  JOIN se x ON x.vec_id = cd.src_id
       |  JOIN te y ON y.vec_id = cd.tgt_id AND y.j = x.j
       |  JOIN sn ON sn.vec_id = cd.src_id
       |  JOIN tn ON tn.vec_id = cd.tgt_id
       |  GROUP BY cd.src_id, cd.tgt_id, sn.nrm, tn.nrm),
       |ms AS (SELECT src_id,
       |    CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT src_id, c, row_number() OVER (PARTITION BY src_id
       |      ORDER BY c DESC, tgt_id) AS rn FROM p)
       |  WHERE rn <= 4 GROUP BY src_id),
       |mt AS (SELECT tgt_id,
       |    CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT tgt_id, c, row_number() OVER (PARTITION BY tgt_id
       |      ORDER BY c DESC, src_id) AS rn FROM p)
       |  WHERE rn <= 4 GROUP BY tgt_id)
       |SELECT src_id, tgt_id,
       |  round(p.c / ((ms.m + mt.m) / 2), 6) AS margin
       |FROM p JOIN ms USING (src_id) JOIN mt USING (tgt_id)
       |QUALIFY row_number() OVER (PARTITION BY src_id
       |  ORDER BY margin DESC, tgt_id) = 1""".stripMargin)),

    ("q224_preference_pairs", (s, d) => {
      // DPO/RLHF data prep: within each (source, lang) slice, pair
      // the best-scoring document (chosen) with the worst (rejected)
      // under the q220 NB quality score, keeping pairs whose gap
      // clears 0.5 — uniform slices carry no preference signal and
      // emit nothing. Rank-1 windows compile to WindowGroupLimit
      // (map-side top-1), so only one row per slice is exchanged.
      val docs = t(s, d, "documents")
      val model = graft.text.QualityClassifier.nbTrain(
        docs, "text", col("lang") === "en")
      val scored = graft.text.QualityClassifier
        .nbScore(docs, "doc_id", "text", model)
        .join(docs.select("doc_id", "source", "lang"), Seq("doc_id"))
        .localCheckpoint(true) // both top-1 windows read it (q213 rule)
      graft.text.QualityClassifier.preferencePairs(
          scored, Seq("source", "lang"), "doc_id", "score", minGap = 0.5)
        .select("source", "lang", "chosen_id", "rejected_id",
          "chosen_score", "rejected_score", "gap")
    }, Some(s"""$nbScoreSql,
       |j AS (SELECT d.doc_id, sc.score, d.source, d.lang
       |  FROM sc JOIN documents d USING (doc_id)),
       |ch AS (SELECT source, lang, doc_id AS chosen_id,
       |    score AS chosen_score FROM j
       |  QUALIFY row_number() OVER (PARTITION BY source, lang
       |    ORDER BY score DESC, doc_id ASC) = 1),
       |rj AS (SELECT source, lang, doc_id AS rejected_id,
       |    score AS rejected_score FROM j
       |  QUALIFY row_number() OVER (PARTITION BY source, lang
       |    ORDER BY score ASC, doc_id ASC) = 1)
       |SELECT source, lang, chosen_id, rejected_id,
       |  chosen_score, rejected_score,
       |  chosen_score - rejected_score AS gap
       |FROM ch JOIN rj USING (source, lang)
       |WHERE chosen_id <> rejected_id
       |  AND chosen_score - rejected_score >= 0.5""".stripMargin)),

    ("q225_bpe_fertility", (s, d) => {
      // tokenizer-equity report: per-language fertility (subword
      // pieces per word) and chars-per-piece under the corpus's own
      // 3-merge BPE — the table that shows which languages the
      // vocabulary underserves. The merge fold runs once per DISTINCT
      // word; language instance counts ride a (lang, word) aggregate
      // joined on the word. Oracle re-derives the merges (q143's
      // chain, word carried through) and the same exact-integer sums.
      val docs = t(s, d, "documents")
      val merges = graft.text.Vocab.bpeTrain(docs, "doc_id", "text", 3)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Vocab.bpeFertilityByGroup(docs, "lang", "text", merges)
    }, Some(s"""${bpeChainSql(3)},
       |wl AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT lang, unnest(regexp_split_to_array(text, '\\s+')) AS word
       |    FROM documents)
       |  WHERE word <> '' GROUP BY 1, 2),
       |wp AS (SELECT word, CAST(len(syms) AS BIGINT) AS np,
       |    CAST(len(word) AS BIGINT) AS wlen FROM s3)
       |SELECT lang,
       |  CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * np) AS BIGINT) AS n_pieces,
       |  CAST(sum(cnt * wlen) AS BIGINT) AS n_chars,
       |  CAST(CAST(sum(cnt * np) AS BIGINT) AS DOUBLE)
       |    / CAST(sum(cnt) AS BIGINT) AS fertility,
       |  CAST(CAST(sum(cnt * wlen) AS BIGINT) AS DOUBLE)
       |    / CAST(sum(cnt * np) AS BIGINT) AS chars_per_piece
       |FROM wl JOIN wp USING (word)
       |GROUP BY lang""".stripMargin)),

    ("q226_top_direction", (s, d) => {
      // spectral embedding preprocessing (All-but-the-Top): the
      // corpus's dominant Gram direction by 3 power-iteration steps
      // and every vector's projection onto it — the common-component
      // score whose multiple gets subtracted before similarity
      // search. Gram is a dim²-cell aggregate (upper triangle only —
      // the corpus-sized half of the work — mirrored after the
      // aggregate; map-side combinable; checkpointed against its
      // per-iteration re-reads); iterations run on 64-row frames;
      // every sum rides DECIMAL(18,6) so the oracle replays each
      // step exactly (the oracle computes the full square — IEEE
      // multiplication commutes, so mirrored cells are identical).
      val emb = t(s, d, "embeddings")
      val g = graft.sim.Spectral.gram(emb, "embedding")
        .localCheckpoint(true)
      val v = graft.sim.Spectral.powerTopVec(g, dim = 64, iters = 3)
      graft.sim.Spectral.project(emb, "vec_id", "embedding", v)
    }, Some("""WITH x AS (
       |  SELECT vec_id, t.i - 1 AS j, CAST(embedding[t.i] AS DOUBLE) AS v
       |  FROM embeddings CROSS JOIN range(1, 65) t(i)),
       |g AS (SELECT a.j AS i, b.j AS j,
       |    CAST(sum(CAST(a.v * b.v AS DECIMAL(18,6))) AS DOUBLE) AS c
       |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT t.i AS j, CAST(1 AS DOUBLE) AS v FROM range(0, 64) t(i)),
       |u1 AS (SELECT g.i,
       |    CAST(sum(CAST(g.c * v0.v AS DECIMAL(18,6))) AS DOUBLE) AS u
       |  FROM g JOIN v0 ON v0.j = g.j GROUP BY 1),
       |n1 AS (SELECT sqrt(CAST(sum(CAST(u * u AS DECIMAL(18,6)))
       |    AS DOUBLE)) AS n FROM u1),
       |v1 AS (SELECT i AS j, u / n AS v FROM u1 CROSS JOIN n1),
       |u2 AS (SELECT g.i,
       |    CAST(sum(CAST(g.c * v1.v AS DECIMAL(18,6))) AS DOUBLE) AS u
       |  FROM g JOIN v1 ON v1.j = g.j GROUP BY 1),
       |n2 AS (SELECT sqrt(CAST(sum(CAST(u * u AS DECIMAL(18,6)))
       |    AS DOUBLE)) AS n FROM u2),
       |v2 AS (SELECT i AS j, u / n AS v FROM u2 CROSS JOIN n2),
       |u3 AS (SELECT g.i,
       |    CAST(sum(CAST(g.c * v2.v AS DECIMAL(18,6))) AS DOUBLE) AS u
       |  FROM g JOIN v2 ON v2.j = g.j GROUP BY 1),
       |n3 AS (SELECT sqrt(CAST(sum(CAST(u * u AS DECIMAL(18,6)))
       |    AS DOUBLE)) AS n FROM u3),
       |v3 AS (SELECT i AS j, u / n AS v FROM u3 CROSS JOIN n3)
       |SELECT x.vec_id,
       |  round(CAST(sum(CAST(x.v * v3.v AS DECIMAL(18,6)))
       |    AS DOUBLE), 6) AS pc1
       |FROM x JOIN v3 USING (j)
       |GROUP BY x.vec_id""".stripMargin)),

    ("q227_calibration_bins", (s, d) => {
      // classifier QA, face 1: the reliability diagram of the q220 NB
      // score against the actual label — 10 equal-count score bins
      // (distributed Ranks.ntile, never the global-window NTILE) with
      // per-bin positive rate and decimal-mean score. A calibrated
      // score's pos_rate rises with the bin.
      val docs = t(s, d, "documents")
      val model = graft.text.QualityClassifier.nbTrain(
        docs, "text", col("lang") === "en")
      val scored = graft.text.QualityClassifier
        .nbScore(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("y")),
          Seq("doc_id"))
        .localCheckpoint(true) // ntile reads it several times
      graft.text.QualityClassifier
        .calibrationBins(scored, "doc_id", "score", "y", bins = 10)
        .select("bin", "n", "n_pos", "pos_rate", "mean_score")
    }, Some(s"""${nbScoreSql},
       |l AS (SELECT sc.doc_id, sc.score, (d.lang = 'en') AS pos
       |  FROM sc JOIN documents d USING (doc_id)),
       |tb AS (SELECT score, pos,
       |    ntile(10) OVER (ORDER BY score ASC, doc_id ASC) AS bin
       |  FROM l)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS pos_rate,
       |  ${dsumSql("score")} / count(*) AS mean_score
       |FROM tb GROUP BY bin""".stripMargin)),

    ("q228_auc", (s, d) => {
      // classifier QA, face 2: exact ROC AUC of the q220 score by the
      // tie-corrected Mann-Whitney rank-sum — one row, all-integer
      // until the final division. Scores collapse to a distinct-score
      // table; the prefix sum rides Ranks' bucket scheme, so nothing
      // funnels through one task at corpus scale.
      val docs = t(s, d, "documents")
      val model = graft.text.QualityClassifier.nbTrain(
        docs, "text", col("lang") === "en")
      val scored = graft.text.QualityClassifier
        .nbScore(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("y")),
          Seq("doc_id"))
      graft.text.QualityClassifier.aucExact(scored, "score", "y")
    }, Some(s"""${nbScoreSql},
       |l AS (SELECT sc.doc_id, sc.score, (d.lang = 'en') AS pos
       |  FROM sc JOIN documents d USING (doc_id)),
       |r AS (SELECT pos,
       |    2 * rank() OVER (ORDER BY score ASC)
       |      + count(*) OVER (PARTITION BY score) - 1 AS tm
       |  FROM l),
       |a AS (SELECT
       |    CAST(sum(CASE WHEN pos THEN tm ELSE 0 END) AS BIGINT) AS u2,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS nn
       |  FROM r)
       |SELECT p AS n_pos, nn AS n_neg,
       |  CASE WHEN p > 0 AND nn > 0 THEN
       |    CAST(u2 - p * (p + 1) AS DOUBLE)
       |      / CAST(2 * p * nn AS DOUBLE) END AS auc
       |FROM a""".stripMargin)),

    ("q229_jsonl_quarantine", (s, d) =>
      // the ingest family's CORRECTNESS row (the q203 move): stage the
      // documents table as JSON-lines with every 50th line corrupted
      // in place, run the production PERMISSIVE quarantine scan, and
      // hash-compare the clean side + quarantine count against the
      // source table itself — parsing must be lossless on good lines
      // and must divert exactly the broken ones.
      Replay.withTempRoot("graft_q229_") { tmp =>
        val docs = t(s, d, "documents").select("doc_id", "text", "lang")
        docs.select(
            when(col("doc_id") % 50 === 0,
              concat(lit("{\"doc_id\":"), col("doc_id"), lit(",#corrupt")))
              .otherwise(to_json(struct(col("doc_id"), col("text"),
                col("lang")))).as("value"))
          .coalesce(1).write.text(s"$tmp/in")
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string").add("lang", "string")
        val (clean, quarantine) = graft.ingest.Ingest
          .jsonlWithQuarantine(s, s"$tmp/in", schema)
        clean
          .crossJoin(broadcast(
            quarantine.agg(count(lit(1)).as("n_quarantined"))))
          .localCheckpoint(true)
      }, Some("""SELECT doc_id, text, lang,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents
       |   WHERE doc_id % 50 = 0) AS n_quarantined
       |FROM documents WHERE doc_id % 50 <> 0""".stripMargin)),

    ("q230_stream_quality_filter", (s, d) =>
      // the quality classifier's STREAMING face, batch-equivalently
      // certified (the q192/q207 discipline): a frozen NB model
      // trained on the static corpus filters two staged micro-batches
      // through a real scoreFilterSink StreamingQuery; the per-batch
      // dirs telescoped together must hash-match the one-shot q220
      // scoring of the whole corpus — per-doc scores carry no
      // cross-batch state, so streaming and batch MUST agree exactly.
      Replay.withTempRoot("graft_q230_") { tmp =>
        val feed = s"$tmp/feed"
        val docs = t(s, d, "documents")
        val model = graft.text.QualityClassifier.nbTrain(
          docs, "text", col("lang") === "en")
        val slim = docs.select("doc_id", "text")
        def half(r: Int) = slim.filter(col("doc_id") % 2 === r).coalesce(1)
        Replay.stage(half(0), feed, 1)
        Replay.drive(s) {
          Streams.scoreFilterSink(Replay.source(s, feed), model, "doc_id",
            "text", s"$tmp/out", s"$tmp/ckpt")
        }(() => Replay.stage(half(1), feed, 2))
        s.read.parquet(s"$tmp/out/b=*")
          .select("doc_id", "n_tokens", "score", "keep")
          .localCheckpoint(true)
      }, Some(s"""$nbScoreSql
       |SELECT doc_id, n_tokens, score, score > 0 AS keep
       |FROM sc""".stripMargin)),

    ("q203_compacted_readback", (s, d) =>
      // the maintenance family's CORRECTNESS row: fragment a REAL
      // table into 40 part files on disk, run the production
      // Retention.compact (byte-derived count, rename-aside swap),
      // and hash-compare the COMPACTED layout's read-back — row
      // preservation plus the exact before/after file counts ride the
      // same oracle compare as every query. The oracle is the source
      // table itself: compaction must be invisible to readers.
      Replay.withTempRoot("graft_q203_") { tmp =>
        val path = s"$tmp/orders"
        t(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .repartition(40).write.parquet(path)
        val (before, after) = Retention.compact(
          s, path, targetBytes = 512L << 20)
        s.read.parquet(path)
          .withColumn("files_before", lit(before))
          .withColumn("files_after", lit(after))
          .localCheckpoint(true)
      }, Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
       |  CAST(40 AS BIGINT) AS files_before,
       |  CAST(1 AS BIGINT) AS files_after
       |FROM orders""".stripMargin)),

    ("q200_golden_record", (s, d) => {
      // MDM field-level survivorship: three feed versions of the
      // customer dimension — a full load, then a PARTIAL Feb feed
      // (every 3rd key: new segment + balance, name missing) and a
      // PARTIAL Mar feed (every 5th key: new name, segment/balance
      // missing). Each golden field independently takes its newest
      // non-null value, so sparse feeds enrich instead of erase —
      // the semantics row-level keep-latest (q02) cannot express.
      val c = t(s, d, "customer")
      val v1 = c.select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_mktsegment").as("segment"),
          col("c_acctbal").cast("double").as("balance"))
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("feed_no", lit(1L))
      val v2 = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          lit(null).cast("string").as("name"),
          lit("UPDATED").as("segment"),
          (col("c_acctbal") + 100).cast("double").as("balance"))
        .withColumn("ts", lit("2024-02-01 00:00:00").cast("timestamp"))
        .withColumn("feed_no", lit(2L))
      val v3 = c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("k"),
          concat(lit("v3-"), col("c_name")).as("name"),
          lit(null).cast("string").as("segment"),
          lit(null).cast("double").as("balance"))
        .withColumn("ts", lit("2024-03-01 00:00:00").cast("timestamp"))
        .withColumn("feed_no", lit(3L))
      graft.operators.Dedup.goldenRecord(
        v1.unionByName(v2).unionByName(v3),
        // feed_no is a REAL tiebreak (k is constant within a group):
        // two versions landing on one timestamp still order totally
        "k", Seq("name", "segment", "balance"), "ts",
        tiebreaks = Seq("feed_no"))
    }, Some("""SELECT c_custkey AS k,
       |  CASE WHEN c_custkey % 5 = 0 THEN 'v3-' || c_name
       |    ELSE c_name END AS name,
       |  CASE WHEN c_custkey % 3 = 0 THEN 'UPDATED'
       |    ELSE c_mktsegment END AS segment,
       |  CAST(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
       |    ELSE c_acctbal END AS DOUBLE) AS balance,
       |  CASE WHEN c_custkey % 5 = 0 THEN TIMESTAMP '2024-03-01'
       |    WHEN c_custkey % 3 = 0 THEN TIMESTAMP '2024-02-01'
       |    ELSE TIMESTAMP '2024-01-01' END AS last_seen
       |FROM customer""".stripMargin)),

    ("q199_semantic_decontamination", (s, d) => {
      // embedding-space decontamination: eval set = scaled copies of
      // every 20th corpus vector (cosine exactly 1 to their source —
      // guaranteed leakage the exact-fingerprint anti join of q65
      // cannot see once text is paraphrased); the operator must drop
      // exactly those sources and nothing else (brute-force-verified:
      // zero natural cross pairs ≥ 0.999 in this corpus at both
      // verify scales). 16-bit buckets as in q54.
      val emb = t(s, d, "embeddings").select("vec_id", "label", "embedding")
      val evalSet = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      Similarity.semanticDecontaminate(emb, evalSet, "vec_id", "embedding",
          threshold = 0.999, bits = 16, dim = 64, tables = 8)
        .select("vec_id", "label")
    }, Some("SELECT vec_id, label FROM embeddings WHERE vec_id % 20 <> 0")),

    // === LLM-pipeline: multimodal plumbing ==============================

    ("q46_multimodal_stats", (s, d) =>
      Multimodal.mediaStats(
        t(s, d, "documents").select(col("doc_id"), col("text").cast("binary").as("media")),
        "doc_id", "media"),
      Some("""SELECT doc_id,
         | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS media_bytes,
         | ascii(substr(text, 1, 1)) AS head_byte
         |FROM documents""".stripMargin)),

    ("q52_multimodal_features", (s, d) =>
      Multimodal.extractFeatures(
        t(s, d, "documents")
          .select(col("doc_id").as("media_id"), col("text").cast("binary").as("media")))
        .toDF().select("media_id", "n_bytes", "checksum"),
      // byte-level rolling hash == char-level for this ASCII corpus, so
      // the q44 fingerprint formula doubles as the checksum oracle
      Some("""SELECT doc_id AS media_id,
         | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         | list_reduce(
         |   list_prepend(CAST(0 AS BIGINT),
         |     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         |   (a, b) -> (a * 31 + b) % 1000000007) AS checksum
         |FROM documents""".stripMargin)),

    ("q53_frame_sample_plan", (s, d) =>
      Multimodal.frameSamplePlan(
        t(s, d, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("media")),
        "doc_id", "media", stride = 64, maxFrames = 4),
      Some("""SELECT doc_id, n_bytes,
         | CAST(off // 64 AS INTEGER) AS frame_idx, off AS byte_offset
         |FROM (SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
         |      FROM documents),
         | UNNEST(range(0, least(n_bytes - 1, 192) + 1, 64)) AS u(off)""".stripMargin)),

    ("q128_image_decode", (s, d) =>
      // REAL image decode end-to-end: deterministic PNG fixtures whose
      // dimensions and (uniform) pixel color derive from the id, pushed
      // through the javax.imageio mapPartitions decoder. PNG is
      // lossless, so the oracle can predict the entire round-trip from
      // the id alone — a full hash check on an actual codec path, not a
      // stub
      Multimodal.decodeImageInfo(
        Multimodal.encodeTestImages(
          t(s, d, "documents").select("doc_id"), "doc_id")).toDF(),
      Some("""SELECT doc_id AS media_id, TRUE AS ok,
         | CAST(doc_id % 7 + 1 AS INTEGER) AS width,
         | CAST(doc_id % 5 + 1 AS INTEGER) AS height,
         | 3 AS channels,
         | CAST(doc_id % 256 AS INTEGER) AS mean_r,
         | CAST(doc_id * 7 % 256 AS INTEGER) AS mean_g,
         | CAST(doc_id * 13 % 256 AS INTEGER) AS mean_b
         |FROM documents""".stripMargin)),

    ("q130_audio_decode", (s, d) =>
      // q128's audio twin: deterministic 8 kHz mono 16-bit PCM WAV
      // fixtures through the JDK's real javax.sound.sampled codec; WAV
      // is lossless, so the oracle predicts rate/channels/bits/frames
      // and the exact constant amplitude from the id alone
      Multimodal.decodeAudioInfo(
        Multimodal.encodeTestWavs(
          t(s, d, "documents").select("doc_id"), "doc_id")).toDF(),
      Some("""SELECT doc_id AS media_id, TRUE AS ok,
         | 8000 AS sample_rate, 1 AS channels, 16 AS bits,
         | CAST(doc_id % 100 + 1 AS BIGINT) AS n_frames,
         | CAST(doc_id % 30000 - 15000 AS BIGINT) AS mean_amp
         |FROM documents""".stripMargin)),

    ("q198_audio_signal_stats", (s, d) =>
      // waveform-quality curation stats (peak, exact sum of squares,
      // zero crossings, clipped count) through the REAL JDK PCM
      // decode, over square-wave fixtures whose every stat is a pure
      // function of the id — witnesses the per-sample loop, not just
      // the container walk (q130's mean would pass on a header-only
      // stub; the crossings/Σs² cannot)
      Multimodal.audioSignalStats(
        Multimodal.encodeTestWavsSquare(
          t(s, d, "documents").select("doc_id"), "doc_id")).toDF(),
      Some("""SELECT doc_id AS media_id, TRUE AS ok,
         | CAST(doc_id % 100 + 20 AS BIGINT) AS n_samples,
         | CAST(abs((doc_id * 7919) % 40000 - 20000) AS BIGINT) AS peak_amp,
         | CAST((doc_id % 100 + 20) * ((doc_id * 7919) % 40000 - 20000)
         |   * ((doc_id * 7919) % 40000 - 20000) AS BIGINT) AS sum_sq,
         | CAST(CASE WHEN (doc_id * 7919) % 40000 = 20000 THEN 0
         |   ELSE (doc_id % 100 + 19) // (doc_id % 7 + 2) END AS BIGINT)
         |   AS zero_crossings,
         | CAST(CASE WHEN abs((doc_id * 7919) % 40000 - 20000) >= 15000
         |   THEN doc_id % 100 + 20 ELSE 0 END AS BIGINT) AS clipped
         |FROM documents""".stripMargin)),

    ("q133_mp4_metadata", (s, d) =>
      // video-container metadata WITHOUT a codec: a real ISO-BMFF box
      // walk (ftyp brand, mvhd timescale/duration, tkhd 16.16 dims,
      // hdlr fourcc) over deterministic minimal-MP4 fixtures — the
      // metadata a curation pipeline filters on (duration, resolution,
      // codec identity) parsed by pure byte slicing; only sample DECODE
      // remains behind the labeled stub. Oracle predicts the walk from
      // the id (q128/q130 pattern)
      graft.multimodal.Containers.decodeMp4Info(
        graft.multimodal.Containers.encodeTestMp4s(
          t(s, d, "documents").select("doc_id"), "doc_id")).toDF(),
      Some("""SELECT doc_id AS media_id, TRUE AS ok, 'isom' AS major_brand,
         | CAST(600 AS BIGINT) AS timescale,
         | (doc_id % 9000 + 600) * 1000 // 600 AS duration_ms,
         | 1 AS n_tracks, 'vide' AS handler,
         | CAST(doc_id % 320 + 16 AS INTEGER) AS width,
         | CAST(doc_id % 240 + 16 AS INTEGER) AS height
         |FROM documents""".stripMargin)),

    ("q134_mp3_metadata", (s, d) =>
      // compressed-audio container metadata: MPEG-1 Layer III frame
      // walk (11-bit sync, ISO 11172-3 bitrate/sample-rate tables,
      // 144·br/sr+pad frame hop, ID3v2 skip) over deterministic CBR
      // fixtures; format, frame count, and CBR duration all replay
      // from the id in SQL
      graft.multimodal.Containers.decodeMp3Info(
        graft.multimodal.Containers.encodeTestMp3s(
          t(s, d, "documents").select("doc_id"), "doc_id")).toDF(),
      Some("""SELECT doc_id AS media_id, TRUE AS ok, 1 AS mpeg_version,
         | 3 AS layer,
         | CAST(list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
         |   CAST(doc_id % 14 + 1 AS INT)) AS INTEGER) AS bitrate_kbps,
         | CAST(list_extract([44100,48000,32000],
         |   CAST(doc_id % 3 + 1 AS INT)) AS INTEGER) AS sample_rate,
         | CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INTEGER) AS channels,
         | CAST(doc_id % 40 + 1 AS BIGINT) AS n_frames,
         | (doc_id % 40 + 1) * 1152 * 1000 // list_extract([44100,48000,32000],
         |   CAST(doc_id % 3 + 1 AS INT)) AS duration_ms
         |FROM documents""".stripMargin)),

    ("q131_pq_kmeans_codes", (s, d) => {
      // q124's quantizer with a TRAINED codebook: two Lloyd's k-means
      // iterations refine the portable-hash init (assign via the fused
      // native PqCodes, means as id-ordered folds — see Pq.kmeansTrain's
      // determinism contract). The oracle unrolls both iterations in
      // SQL: every centroid is reproduced BIT-identically from the same
      // pinned folds, so the trained-codebook codes are one hash
      // compare — the training loop itself is oracled, not just encode
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val cb = graft.sim.Pq.kmeansTrain(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      graft.sim.Pq.pqEncode(emb, "vec_id", "embedding", cb)
    }, Some {
      // one Lloyd iteration: assign (fold-ordered distances, first-min
      // argmin) -> per-(s,code,j) mean (id-ordered fold / count) ->
      // next codebook (empty cluster keeps the previous centroid)
      def iter(i: Int): String = {
        val prev = s"cb${i - 1}"
        s"""d$i AS (
           |  SELECT l.vec_id, l.s, c.code,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list((l.val - c.cval) * (l.val - c.cval) ORDER BY l.j)),
           |      (a, b) -> a + b) AS dist
           |  FROM elong l JOIN $prev c ON c.s = l.s AND c.j = l.j
           |  GROUP BY l.vec_id, l.s, c.code),
           |a$i AS (
           |  SELECT vec_id, s, code FROM d$i
           |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) = 1),
           |m$i AS (
           |  SELECT a.s, a.code, l.j,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.val ORDER BY l.vec_id)),
           |      (x, y) -> x + y) / count(*) AS cval
           |  FROM a$i a JOIN elong l ON l.vec_id = a.vec_id AND l.s = a.s
           |  GROUP BY a.s, a.code, l.j),
           |cb$i AS (
           |  SELECT c.s, c.code, c.j, coalesce(m.cval, c.cval) AS cval
           |  FROM $prev c LEFT JOIN m$i m ON m.s = c.s AND m.code = c.code AND m.j = c.j)"""
      }
      s"""WITH elong AS (
         |  SELECT e.vec_id, CAST((t.i - 1) // 8 AS BIGINT) AS s,
         |    CAST((t.i - 1) % 8 AS BIGINT) AS j,
         |    CAST(e.embedding[t.i] AS DOUBLE) AS val
         |  FROM embeddings e CROSS JOIN range(1, 65) t(i)),
         |cb0 AS (
         |  SELECT h.code, l.s, l.j, l.val AS cval
         |  FROM (SELECT vec_id, row_number() OVER (ORDER BY
         |      ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code
         |    FROM embeddings) h
         |  JOIN elong l ON l.vec_id = h.vec_id
         |  WHERE h.code < 16),
         |${iter(1)},
         |${iter(2)},
         |dfin AS (
         |  SELECT l.vec_id, l.s, c.code,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list((l.val - c.cval) * (l.val - c.cval) ORDER BY l.j)),
         |      (a, b) -> a + b) AS dist
         |  FROM elong l JOIN cb2 c ON c.s = l.s AND c.j = l.j
         |  GROUP BY l.vec_id, l.s, c.code)
         |SELECT vec_id, CAST(s AS BIGINT) AS sub, code FROM dfin
         |QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) = 1""".stripMargin
    }),

    ("q132_ivfpq_rerank", (s, d) => {
      // the COMPLETE serving pipeline (Jégou ADC+R): IVF coarse prune ->
      // PQ-ADC nominate R=20 candidates -> EXACT re-rank of only those.
      // Quantization caps ADC's within-cell resolution (near-tied codes
      // rank arbitrarily); re-ranking queries×R true vectors — never the
      // corpus — recovers exact-ranking quality. Every stage replays in
      // SQL on the portable-hash codebook: q129's stack plus a
      // fold-ordered exact-distance tail, one hash compare end-to-end
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val coarse = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding", m = 1, k = 16)
      val pqcb = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
      val qs = emb.filter(col("vec_id") < 5)
      val cands = graft.sim.Pq.ivfPqTopK(emb, qs, "vec_id", "embedding",
        coarse, pqcb, nprobe = 4, topK = 20)
      graft.sim.Pq.exactRerank(cands, emb, qs, "vec_id", "embedding", topK = 5)
    }, Some {
      def subTerms(a: String, b: String) = (1 to 8).map { i =>
        s"(CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))" +
          s" * (CAST($a.embedding[s.sub*8 + $i] AS DOUBLE) - CAST($b.embedding[s.sub*8 + $i] AS DOUBLE))"
      }.mkString("\n      + ")
      def fullTerms(a: String, b: String) = (1 to 64).map { i =>
        s"(CAST($a.embedding[$i] AS DOUBLE) - CAST($b.embedding[$i] AS DOUBLE))" +
          s" * (CAST($a.embedding[$i] AS DOUBLE) - CAST($b.embedding[$i] AS DOUBLE))"
      }.mkString("\n      + ")
      s"""WITH cb AS (
         |  SELECT * FROM (
         |    SELECT row_number() OVER (ORDER BY
         |        ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code,
         |      embedding
         |    FROM embeddings) WHERE code < 16),
         |assign AS (
         |  SELECT vec_id, code AS list_id FROM (
         |    SELECT e.vec_id, cb.code, (${fullTerms("e", "cb")}) AS cdist
         |    FROM embeddings e CROSS JOIN cb)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, code) = 1),
         |probes AS (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.vec_id AS query_id, cb.code AS list_id,
         |      (${fullTerms("q", "cb")}) AS cdist
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN cb)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cdist, list_id) <= 4),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT e.vec_id, s.sub, cb.code,
         |      (${subTerms("e", "cb")}) AS dist
         |    FROM embeddings e
         |    CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
         |    CROSS JOIN cb)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
         |lut AS (
         |  SELECT q.vec_id AS query_id, s.sub, cb.code,
         |    (${subTerms("q", "cb")}) AS d
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
         |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(sub)
         |  CROSS JOIN cb),
         |adist AS (
         |  SELECT l.query_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.d ORDER BY l.sub)),
         |      (a, b) -> a + b) AS adist
         |  FROM codes c
         |  JOIN assign a ON a.vec_id = c.vec_id
         |  JOIN probes p ON p.list_id = a.list_id
         |  JOIN lut l ON l.query_id = p.query_id AND l.sub = c.sub AND l.code = c.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         |cands AS (
         |  SELECT query_id, neighbor_id FROM adist
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 20)
         |SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
         |FROM (
         |  SELECT c.query_id, c.neighbor_id, (${fullTerms("q", "e")}) AS dist
         |  FROM cands c
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id
         |  JOIN embeddings q ON q.vec_id = c.query_id)
         |QUALIFY rnk <= 5""".stripMargin
    }),

    ("q138_cluster_balanced_sample", (s, d) =>
      // mixture refresh on the corpus's OWN semantic structure: k-means
      // (m=1 full-vector Lloyd, portable-hash init, 1 iteration) labels
      // every embedding with its cluster, then the deterministic ppm
      // mixture EQUALIZES cluster volumes — boilerplate/template blobs
      // are downweighted even when no metadata column names them. The
      // oracle unrolls the training iteration (q131's pinned folds),
      // the assignment argmin, AND the per-cluster ppm rates in SQL —
      // the full train->assign->rebalance composite is one hash compare
      graft.sim.Pq.clusterBalancedSample(
          t(s, d, "embeddings").select("vec_id", "embedding"),
          "vec_id", "embedding", k = 8, iters = 1)
        .select("vec_id", "cluster"),
      Some("""WITH elong AS (
         |  SELECT e.vec_id, CAST(t.i - 1 AS BIGINT) AS j,
         |    CAST(e.embedding[t.i] AS DOUBLE) AS val
         |  FROM embeddings e CROSS JOIN range(1, 65) t(i)),
         |cb0 AS (
         |  SELECT h.code, l.j, l.val AS cval
         |  FROM (SELECT vec_id, row_number() OVER (ORDER BY
         |      ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code
         |    FROM embeddings) h
         |  JOIN elong l ON l.vec_id = h.vec_id
         |  WHERE h.code < 8),
         |d1 AS (
         |  SELECT l.vec_id, c.code,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list((l.val - c.cval) * (l.val - c.cval) ORDER BY l.j)),
         |      (a, b) -> a + b) AS dist
         |  FROM elong l JOIN cb0 c ON c.j = l.j
         |  GROUP BY l.vec_id, c.code),
         |a1 AS (
         |  SELECT vec_id, code FROM d1
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) = 1),
         |m1 AS (
         |  SELECT a.code, l.j,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.val ORDER BY l.vec_id)),
         |      (x, y) -> x + y) / count(*) AS cval
         |  FROM a1 a JOIN elong l ON l.vec_id = a.vec_id
         |  GROUP BY a.code, l.j),
         |cb1 AS (
         |  SELECT c.code, c.j, coalesce(m.cval, c.cval) AS cval
         |  FROM cb0 c LEFT JOIN m1 m ON m.code = c.code AND m.j = c.j),
         |dfin AS (
         |  SELECT l.vec_id, c.code,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list((l.val - c.cval) * (l.val - c.cval) ORDER BY l.j)),
         |      (a, b) -> a + b) AS dist
         |  FROM elong l JOIN cb1 c ON c.j = l.j
         |  GROUP BY l.vec_id, c.code),
         |assign AS (
         |  SELECT vec_id, code AS cluster FROM dfin
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) = 1),
         |cnts AS (
         |  SELECT cluster, CAST(count(*) AS DOUBLE) AS cnt
         |  FROM assign GROUP BY 1),
         |tm AS (SELECT min(cnt) AS tmax FROM cnts),
         |r AS (SELECT cluster, floor(1000000 * tmax / cnt) AS ppm
         |  FROM cnts CROSS JOIN tm)
         |SELECT a.vec_id, a.cluster
         |FROM assign a JOIN r USING (cluster)
         |WHERE (((a.vec_id % 100000007) * (2654435761 + 67867967) % 99999989)
         |    * 2246822519) % 1000000 < ppm""".stripMargin)),

    ("q139_temperature_sample", (s, d) =>
      // exponentiated domain smoothing (rate ∝ share^alpha): at
      // alpha=0.5 low-resource languages are upweighted relative to
      // their natural share without flattening the mix. The oracle
      // replays the count aggregate, the closed-form
      // (cnt_min/cnt)^(1-alpha) ppm rate (rounded before flooring —
      // pow is the one last-ulp-unstable step), and the two-round
      // sampler hash, so the kept row SET is one hash compare.
      graft.operators.Sample.temperatureSample(
          t(s, d, "documents").select("doc_id", "lang"),
          "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang"),
      Some("""WITH cnts AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
         |  FROM documents GROUP BY 1),
         |cm AS (SELECT min(cnt) AS cmin FROM cnts),
         |r AS (SELECT lang,
         |    floor(round(pow(cmin / cnt, 0.5) * 1000000, 6)) AS ppm
         |  FROM cnts CROSS JOIN cm)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN r USING (lang)
         |WHERE (((d.doc_id % 100000007) * (2654435761 + 86028121) % 99999989)
         |    * 2246822519) % 1000000 < r.ppm""".stripMargin)),

    ("q141_semdedup", (s, d) => {
      // SemDeDup: cluster on unit vectors, prune within-cluster pairs at
      // cosine >= 0.999. Scaled copies (x1.5, +1000000 ids) are the
      // planted semantic dups — normalization puts each copy in its
      // original's cluster, the copy (higher id) is dropped. The oracle
      // unrolls normalize -> kmeans train+assign (q138's pinned folds,
      // on unit vectors) -> within-cluster pair dots -> the drop rule,
      // so train/assign/prune is ONE hash compare. Natural max pairwise
      // cosine in this corpus is 0.51 vs the planted ~1.0 — nothing
      // sits near the 0.999 boundary on either engine.
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val scaled = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      graft.sim.Pq.semDedup(emb.unionByName(scaled), "vec_id", "embedding",
          k = 8, iters = 1, threshold = 0.999)
        .select("vec_id", "cluster")
    }, Some("""WITH u AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |         list_transform(embedding, x -> x * CAST(1.5 AS FLOAT))
       |  FROM embeddings),
       |elong0 AS (
       |  SELECT u.vec_id, CAST(t.i - 1 AS BIGINT) AS j,
       |    CAST(u.embedding[t.i] AS DOUBLE) AS val
       |  FROM u CROSS JOIN range(1, 65) t(i)),
       |nrm AS (
       |  SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(val * val ORDER BY j)), (a, b) -> a + b)) AS nv
       |  FROM elong0 GROUP BY vec_id),
       |elong AS (
       |  SELECT e.vec_id, e.j, e.val / n.nv AS val
       |  FROM elong0 e JOIN nrm n USING (vec_id)),
       |cb0 AS (
       |  SELECT h.code, l.j, l.val AS cval
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY
       |      ((vec_id % 100000007) * 2654435761) % 1000000, vec_id) - 1 AS code
       |    FROM u) h
       |  JOIN elong l ON l.vec_id = h.vec_id
       |  WHERE h.code < 8),
       |d1 AS (
       |  SELECT l.vec_id, c.code,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list((l.val - c.cval) * (l.val - c.cval) ORDER BY l.j)),
       |      (a, b) -> a + b) AS dist
       |  FROM elong l JOIN cb0 c ON c.j = l.j
       |  GROUP BY l.vec_id, c.code),
       |a1 AS (
       |  SELECT vec_id, code FROM d1
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) = 1),
       |m1 AS (
       |  SELECT a.code, l.j,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.val ORDER BY l.vec_id)),
       |      (x, y) -> x + y) / count(*) AS cval
       |  FROM a1 a JOIN elong l ON l.vec_id = a.vec_id
       |  GROUP BY a.code, l.j),
       |cb1 AS (
       |  SELECT c.code, c.j, coalesce(m.cval, c.cval) AS cval
       |  FROM cb0 c LEFT JOIN m1 m ON m.code = c.code AND m.j = c.j),
       |dfin AS (
       |  SELECT l.vec_id, c.code,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list((l.val - c.cval) * (l.val - c.cval) ORDER BY l.j)),
       |      (a, b) -> a + b) AS dist
       |  FROM elong l JOIN cb1 c ON c.j = l.j
       |  GROUP BY l.vec_id, c.code),
       |assign AS (
       |  SELECT vec_id, code AS cluster FROM dfin
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) = 1),
       |pd AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(ea.val * eb.val ORDER BY ea.j)), (x, y) -> x + y) AS dot
       |  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  JOIN elong0 ea ON ea.vec_id = a.vec_id
       |  JOIN elong0 eb ON eb.vec_id = b.vec_id AND eb.j = ea.j
       |  GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT p.id2 AS vec_id
       |  FROM pd p JOIN nrm n1 ON n1.vec_id = p.id1
       |  JOIN nrm n2 ON n2.vec_id = p.id2
       |  WHERE p.dot / (n1.nv * n2.nv) >= 0.999)
       |SELECT a.vec_id, a.cluster FROM assign a
       |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = a.vec_id)"""
      .stripMargin)),

    ("q142_hll_distinct", (s, d) =>
      // portable HyperLogLog distinct-user estimate: bucket (16 md5
      // bits mod 64) and rho window (next 24 bits) come from
      // md5(cast(key as string)) — bit-identical in every engine — so
      // the WHOLE sketch replays in SQL (an xxhash64 sketch is
      // rows-only; the repo's multiplicative hash lacks low-bit
      // avalanche — see Sketches.hllRegisters). Integer-exact register
      // sum (every 2^-r term scaled to a bigint), one deterministic
      // division; the linear-counting branch's ln is the only rounded
      // step. rho is a 24-comparison CASE chain, not floor(log2) —
      // libm log2 misclassifies exact powers of two by one ulp.
      graft.operators.Sketches.hllEstimate(t(s, d, "events"), "user_id"),
      Some(s"""WITH h0 AS (
         |  SELECT md5(CAST(user_id AS VARCHAR)) AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r0 AS (
         |  SELECT list_reduce(list_transform(string_split(substr(h, 1, 4), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) % 64 AS bucket,
         |    list_reduce(list_transform(string_split(substr(h, 5, 6), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) AS w
         |  FROM h0),
         |r1 AS (SELECT bucket, CASE ${
           (1 to 24).map(r => s"WHEN w >= ${1L << (24 - r)} THEN $r")
             .grouped(3).map(_.mkString(" ")).mkString("\n         |  ")
         }
         |  ELSE 25 END AS rho FROM r0),
         |regs AS (SELECT bucket, max(rho) AS r FROM r1 GROUP BY 1),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS nz,
         |  CAST(sum(CAST(1 AS BIGINT) << (25 - r)) AS BIGINT) AS isum0
         |  FROM regs)
         |SELECT CAST(64 AS BIGINT) AS m, nz AS nonzero,
         |  round(CASE WHEN (64 - nz) > 0
         |      AND 0.709 * 4096.0 * 33554432.0
         |        / (isum0 + (64 - nz) * 33554432) <= 160.0
         |    THEN 64.0 * ln(64.0 / (64 - nz))
         |    ELSE 0.709 * 4096.0 * 33554432.0
         |      / (isum0 + (64 - nz) * 33554432) END, 9) AS estimate
         |FROM agg""".stripMargin)),

    ("q143_bpe_train", (s, d) =>
      // tokenizer training: 3 BPE merge rounds over the distinct-word
      // frequency table. Pair counting is a distributed aggregate per
      // round; only the argmax row reaches the driver (the k-means
      // codebook contract). The oracle unrolls ALL three rounds —
      // char split, weighted pair counts, the (cnt desc, lhs, rhs)
      // argmax, and the greedy left-to-right merge fold — so the
      // learned merge table is one hash compare.
      graft.text.Vocab.bpeTrain(t(s, d, "documents"), "doc_id", "text", 3),
      Some(s"""${bpeChainSql(3)}
         |SELECT 1 AS step, l AS lhs, r AS rhs, c AS cnt FROM m1
         |UNION ALL SELECT 2, l, r, c FROM m2
         |UNION ALL SELECT 3, l, r, c FROM m3""".stripMargin)),

    ("q144_bpe_segment", (s, d) => {
      // the encode face: apply the 3 learned merges to every token
      // instance and report corpus subword frequencies — the sanity
      // table a tokenizer rollout checks. The oracle re-derives the
      // merges (same chain as q143) and counts unnested symbols
      // weighted by word frequency (identical to instance-level
      // explode + count).
      val docs = t(s, d, "documents")
      val merges = graft.text.Vocab.bpeTrain(docs, "doc_id", "text", 3)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Vocab.bpeSegmentCounts(docs, "text", merges)
    }, Some(s"""${bpeChainSql(3)}
       |SELECT sym AS token, CAST(sum(cnt) AS BIGINT) AS n FROM (
       |  SELECT cnt, unnest(syms) AS sym FROM s3)
       |GROUP BY 1""".stripMargin)),

    ("q145_pagerank", (s, d) => {
      // link-graph centrality as a quality weight: PageRank over the
      // part co-purchase graph (parts sharing an order, symmetric so
      // every node has out-edges and the no-dangling variant is the
      // classic one), 2 power iterations. The oracle replays BOTH
      // iterations: per-edge r/outdeg contributions summed in exact
      // DECIMAL(30,15) (order-independent), rank update in the same
      // IEEE operand order — no transcendental anywhere, the 9 dp
      // round is a compare convenience.
      val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.select(col("l_orderkey").as("k"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("dst")),
          Seq("k"))
        .filter(col("src") =!= col("dst"))
      graft.operators.PageRank.pageRank(e, "src", "dst", iters = 2)
    }, Some(pageRankChainSql(2,
      """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey""".stripMargin))),

    ("q146_histogram_quantiles", (s, d) =>
      // fixed-state approximate percentiles: 128-bin equi-width
      // histogram + in-bin interpolation, vs q77's exact sort-based
      // percentiles. Two scans, 128 counters, error <= one bin width;
      // bin tables with a shared frame merge by addition. Oracle
      // replays min/max/count, exact bin counts, the cumulative walk,
      // and the interpolation in the same operand order — no
      // transcendental, one hash compare.
      graft.operators.Sketches.histogramQuantiles(
        t(s, d, "events"), "value", bins = 128, ps = Seq(0.5, 0.95, 0.99)),
      Some("""WITH st AS (
         |  SELECT min(value) AS mn, max(value) AS mx,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE value IS NOT NULL),
         |b AS (
         |  SELECT CASE WHEN mx = mn THEN 0 ELSE
         |    CAST(least(floor((value - mn) / ((mx - mn) / 128)), 127)
         |      AS BIGINT) END AS bin
         |  FROM events CROSS JOIN st WHERE value IS NOT NULL),
         |bc AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
         |cum AS (SELECT bin, c, CAST(sum(c) OVER (ORDER BY bin) AS BIGINT)
         |    AS cum FROM bc),
         |ps AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)),
         |  (CAST(0.95 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) t(p)),
         |sel AS (
         |  SELECT p, bin, c, cum - c AS cumb FROM ps
         |  JOIN cum ON true CROSS JOIN st
         |  WHERE cum >= p * n
         |  QUALIFY row_number() OVER (PARTITION BY p ORDER BY bin) = 1)
         |SELECT p,
         |  round(CASE WHEN mx = mn THEN mn
         |    ELSE mn + (mx - mn) / 128 * (bin + (p * n - cumb) / c) END, 9)
         |    AS q
         |FROM sel CROSS JOIN st""".stripMargin)),

    ("q148_contrastive_pairs", (s, d) =>
      // labeled similarity-training pairs: positives = the verified
      // 3-shingle near-dup set (LSH recall exactly 1 at J>=0.9, so the
      // oracle's brute-force pair set is THE positive set), negatives =
      // (id + 7919) mod N stride partners, canonicalized, existence-
      // checked, anti-joined against positives so an accidental true
      // near-dup is never mislabeled 0.
      graft.dedup.NearDup.contrastivePairs(
        t(s, d, "documents").select("doc_id", "text"), "doc_id", "text")
        .select(col("id1"), col("id2"), col("label")),
      Some("""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
         |    FOR i IN range(1, len(t) - 1)]) AS g
         |  FROM toks WHERE len(t) >= 3),
         |pos AS (
         |  SELECT id1, id2 FROM (
         |    SELECT a.doc_id AS id1, b.doc_id AS id2,
         |      CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.9),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
         |neg AS (
         |  SELECT DISTINCT least(doc_id, (doc_id + 7919) % nn) AS id1,
         |    greatest(doc_id, (doc_id + 7919) % nn) AS id2
         |  FROM documents CROSS JOIN n
         |  WHERE doc_id <> (doc_id + 7919) % nn),
         |negk AS (
         |  SELECT ng.id1, ng.id2 FROM neg ng
         |  WHERE EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = ng.id2)
         |    AND NOT EXISTS (SELECT 1 FROM pos p
         |      WHERE p.id1 = ng.id1 AND p.id2 = ng.id2))
         |SELECT id1, id2, CAST(1 AS INT) AS label FROM pos
         |UNION ALL
         |SELECT id1, id2, CAST(0 AS INT) AS label FROM negk""".stripMargin)),

    ("q153_psi_drift", (s, d) => {
      // distribution-drift monitor: PSI between the view-event and
      // purchase-event value distributions over ONE shared 10-bin
      // frame (per-side bin edges would hide the drift being
      // measured). Counts exact, empty-bin floor 0.0001 via CASE
      // (replayable, not an epsilon-add), ln rounded 9 dp, per-bin
      // contribution rounded 9 dp, total in exact decimal — psi is a
      // SUM, so no quotient round-tie exposure (the q150 lesson).
      val ev = t(s, d, "events")
      graft.operators.Quality.psiDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "value", bins = 10)
    }, Some("""WITH u AS (
       |  SELECT value AS v,
       |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
       |  FROM events
       |  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')),
       |st AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
       |bb AS (
       |  SELECT side, CASE WHEN mx = mn THEN 0 ELSE
       |    CAST(least(floor((v - mn) / ((mx - mn) / 10)), 9) AS BIGINT) END
       |    AS bin
       |  FROM u CROSS JOIN st),
       |c AS (SELECT bin,
       |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM bb GROUP BY 1),
       |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
       |             CAST(sum(cb) AS BIGINT) AS nb FROM c),
       |pq AS (SELECT
       |    CASE WHEN ca = 0 THEN CAST(0.0001 AS DOUBLE)
       |         ELSE CAST(ca AS DOUBLE) / na END AS p,
       |    CASE WHEN cb = 0 THEN CAST(0.0001 AS DOUBLE)
       |         ELSE CAST(cb AS DOUBLE) / nb END AS q
       |  FROM c CROSS JOIN t)
       |SELECT CAST(sum(CAST(round((p - q) * round(ln(p / q), 9), 9)
       |    AS DECIMAL(18,6))) AS DOUBLE) AS psi,
       |  CAST(count(*) AS BIGINT) AS n_bins
       |FROM pq""".stripMargin)),

    ("q154_association_rules", (s, d) =>
      // market-basket rules over order baskets: support/confidence/lift
      // in exact integer ppm (floor division — no float quotient can
      // drift between engines). Pair candidates come from the basket-key
      // self-join, so cost is O(N·basketSize), never O(items²); see
      // MarketBasket scaladoc for the one-exchange basket layout.
      graft.operators.MarketBasket.associationRules(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", minPairCount = 2),
      Some("""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
       |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM items),
       |icnt AS (SELECT it, count(*) AS c FROM items GROUP BY 1),
       |rules AS (
       |  SELECT a.it AS antecedent, b.it AS consequent, count(*) AS pc
       |  FROM items a JOIN items b ON a.bk = b.bk AND a.it <> b.it
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT antecedent, consequent, pc AS pair_count,
       |  ca.c AS antecedent_count, cb.c AS consequent_count, n_baskets,
       |  pc * 1000000 // n_baskets AS support_ppm,
       |  pc * 1000000 // ca.c AS confidence_ppm,
       |  -- HUGEINT products mirror Spark's DECIMAL(38,0) lift operands
       |  -- (BIGINT would wrap at corpus scale); CAST back so the driver
       |  -- sees BIGINT, not HUGEINT (the r09 pandas-bridge lesson).
       |  CAST(CAST(pc AS HUGEINT) * n_baskets * 1000000
       |    // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_ppm
       |FROM rules
       |JOIN icnt ca ON ca.it = antecedent
       |JOIN icnt cb ON cb.it = consequent
       |CROSS JOIN nb""".stripMargin)),

    ("q155_dsir_selection", (s, d) =>
      // DSIR data selection: hashed-unigram log importance weights of
      // each doc under the en-lang target vs the whole corpus, top-100
      // flagged. Bucket hash = portable rolling-hash chain; weights are
      // integer-product ratios through one double division, ln rounded
      // 9 dp; per-doc totals in exact decimal (q105/q114 pattern).
      graft.text.Vocab.dsirScore(t(s, d, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 1021, topK = 100),
      Some(s"""WITH tok AS (
       |  SELECT doc_id, lang = 'en' AS tgt,
       |    unnest(regexp_split_to_array(text, '\\s+')) AS token
       |  FROM documents),
       |fp AS (
       |  SELECT doc_id, tgt,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(token, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007) AS f
       |  FROM tok),
       |bk AS (SELECT doc_id, tgt,
       |    ((f % 100000007) * 2654435761) % 1021 AS b FROM fp),
       |tf AS (SELECT doc_id, tgt, b, count(*) AS n FROM bk GROUP BY 1, 2, 3),
       |cnt AS (SELECT b, CAST(sum(n) AS BIGINT) AS sc,
       |    CAST(sum(CASE WHEN tgt THEN n ELSE 0 END) AS BIGINT) AS tc
       |  FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(sc) AS BIGINT) AS ts,
       |               CAST(sum(tc) AS BIGINT) AS tt FROM cnt),
       |w AS (SELECT b,
       |    -- HUGEINT products mirror Spark's DECIMAL(38,0) (BIGINT
       |    -- would wrap past ~3e9 corpus tokens)
       |    round(ln(CAST(CAST(tc + 1 AS HUGEINT) * (ts + 1021) AS DOUBLE)
       |           / CAST(CAST(sc + 1 AS HUGEINT) * (tt + 1021) AS DOUBLE)),
       |      9) AS w
       |  FROM cnt CROSS JOIN tot),
       |scored AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    ${dsumSql("n * w")} AS dsir_score
       |  FROM tf JOIN w USING (b) GROUP BY 1)
       |SELECT doc_id, n_tokens, dsir_score,
       |  row_number() OVER (ORDER BY dsir_score DESC, doc_id) <= 100
       |    AS selected
       |FROM scored""".stripMargin)),

    ("q156_multi_touch_attribution", (s, d) =>
      // four attribution models in one pass: linear / first / last /
      // time-decay credit of purchase value over the user's preceding
      // 7-day touches, per channel. Only the decay weight is
      // transcendental (rounded 6 dp — the DECIMAL(18,6) accumulator's
      // own grid — before its decimal window sum); every other share
      // is a single IEEE division.
      graft.operators.Attribution.multiTouch(t(s, d, "events")),
      Some(s"""WITH touches AS (
       |  SELECT user_id AS u, event_type AS channel, epoch_us(ts) AS tus,
       |    event_id AS tid
       |  FROM events WHERE event_type <> 'purchase'),
       |convs AS (
       |  SELECT user_id AS u, epoch_us(ts) AS cus, value AS v,
       |    event_id AS cid
       |  FROM events WHERE event_type = 'purchase'),
       |paired AS (
       |  SELECT * FROM touches JOIN convs USING (u)
       |  WHERE tus < cus AND tus >= cus - 604800000000),
       |cred AS (
       |  SELECT channel, cid, v,
       |    count(*) OVER w AS k,
       |    row_number() OVER (PARTITION BY cid ORDER BY tus ASC, tid ASC)
       |      AS rn_a,
       |    row_number() OVER (PARTITION BY cid ORDER BY tus DESC, tid DESC)
       |      AS rn_d,
       |    -- 6 dp (the DECIMAL(18,6) accumulator's own grid): 9 dp
       |    -- values sit on the cast's half-way points (Hits lesson)
       |    round(pow(0.5, CAST(cus - tus AS DOUBLE) / 604800000000.0), 6)
       |      AS w,
       |    CAST(sum(CAST(round(pow(0.5,
       |        CAST(cus - tus AS DOUBLE) / 604800000000.0), 6)
       |      AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sw
       |  FROM paired
       |  WINDOW w AS (PARTITION BY cid))
       |SELECT channel,
       |  count(DISTINCT cid) AS conversions_touched,
       |  CAST(count(*) AS BIGINT) AS touches,
       |  ${dsumSql("v / k")} AS linear_value,
       |  ${dsumSql("CASE WHEN rn_a = 1 THEN v ELSE 0.0 END")}
       |    AS first_touch_value,
       |  ${dsumSql("CASE WHEN rn_d = 1 THEN v ELSE 0.0 END")}
       |    AS last_touch_value,
       |  ${dsumSql("v * w / sw")} AS decay_value
       |FROM cred GROUP BY 1""".stripMargin)),

    ("q157_rfm_segments", (s, d) =>
      // RFM quintile segmentation of the customer base from the orders
      // fact: exact integer rank quintiles (never NTILE — its tie
      // placement is engine-defined), custkey tiebreaks, decimal-exact
      // monetary totals.
      graft.gold.Gold.rfmSegments(t(s, d, "orders"), "o_custkey",
        "o_orderdate", "o_totalprice"),
      Some(s"""WITH per AS (
       |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    ${dsumSql("o_totalprice")} AS monetary
       |  FROM orders GROUP BY 1),
       |g AS (
       |  SELECT *,
       |    CAST(date_diff('day', last_order, max(last_order) OVER ())
       |      AS BIGINT) AS recency_days,
       |    count(*) OVER () AS n
       |  FROM per),
       |sc AS (
       |  SELECT o_custkey, recency_days, frequency, monetary,
       |    5 - (5 * (row_number() OVER (ORDER BY recency_days ASC,
       |      o_custkey ASC) - 1)) // n AS r_score,
       |    5 - (5 * (row_number() OVER (ORDER BY frequency DESC,
       |      o_custkey ASC) - 1)) // n AS f_score,
       |    5 - (5 * (row_number() OVER (ORDER BY monetary DESC,
       |      o_custkey ASC) - 1)) // n AS m_score
       |  FROM g)
       |SELECT o_custkey, recency_days, frequency, monetary,
       |  r_score, f_score, m_score,
       |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
       |       WHEN r_score >= 4 THEN 'recent'
       |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
       |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
       |       ELSE 'regular' END AS segment
       |FROM sc""".stripMargin)),

    ("q158_sq_int8_codes", (s, d) =>
      // int8 scalar quantization of the embedding corpus: per-dim
      // min/max calibration (one narrow aggregate) broadcast into a
      // pure-projection encode. Only IEEE +,-,·,/ and floor — codes are
      // bit-identical across engines with no rounding discipline needed.
      // Registered in the EXPLODED (vec_id, dim, code) shape — the
      // driver's pandas comparator cannot sort array cells (r09 red
      // row); sqEncode keeps the array<int> API for library callers.
      graft.sim.Quantize.sqEncode(t(s, d, "embeddings"), "vec_id",
        "embedding")
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          col("col").as("code")),
      Some("""WITH x AS (
       |  SELECT vec_id, u.dim AS dim, CAST(embedding[u.dim] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(dim)),
       |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1)
       |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       |  CAST(CASE WHEN mx = mn THEN 0 ELSE
       |    least(greatest(floor((x - mn) * 255.0 / (mx - mn) + 0.5),
       |      0), 255) END AS INTEGER) AS code
       |FROM x JOIN st USING (dim)""".stripMargin)),

    ("q159_sq_topk", (s, d) => {
      // SQ serving: top-k by exact-query cosine against the on-the-fly
      // DECODED int8 corpus (scan reads codes, not floats — the 4×
      // traffic cut that, unlike PQ, stays near-lossless). Decode is
      // pure IEEE arithmetic over integer codes, so the ranked list
      // replays in SQL exactly (q45's ranking discipline).
      val emb = t(s, d, "embeddings")
      val codes = graft.sim.Quantize.sqEncode(emb, "vec_id", "embedding")
      val stats = graft.sim.Quantize.sqCalibrate(emb, "vec_id", "embedding")
      graft.sim.Quantize.sqTopK(codes, stats,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
    }, Some("""WITH x AS (
       |  SELECT vec_id, u.dim AS dim, CAST(embedding[u.dim] AS DOUBLE) AS x
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(dim)),
       |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1),
       |c AS (
       |  SELECT vec_id, dim, mn, mx,
       |    CAST(CASE WHEN mx = mn THEN 0 ELSE
       |      least(greatest(floor((x - mn) * 255.0 / (mx - mn) + 0.5),
       |        0), 255) END AS INTEGER) AS code
       |  FROM x JOIN st USING (dim)),
       |v AS (
       |  SELECT vec_id,
       |    list(mn + code * (mx - mn) / 255.0 ORDER BY dim) AS vh
       |  FROM c GROUP BY 1)
       |SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_cosine_similarity(v.vh, q.embedding) DESC,
       |      v.vec_id) AS rnk
       |FROM v JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
       |  ON v.vec_id <> q.vec_id
       |QUALIFY rnk <= 5""".stripMargin)),

    ("q160_jw_linkage", (s, d) => {
      // blocked fuzzy linkage: corrupt every vocabulary word by
      // dropping its 2nd char (a deterministic dirty-input table), then
      // link each corruption back to the clean vocab — first-char
      // blocking + length band prune the pair space, the native
      // Jaro-Winkler scores (DuckDB-compatible, rounded 9 dp) rank, and
      // the top-1 match is the canonical correction.
      val words = t(s, d, "documents")
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("w"))
        .distinct()
      val dirty = words.filter(length(col("w")) >= 3)
        .select(concat(substring(col("w"), 1, 1), expr("substring(w, 3)"))
          .as("q")).distinct()
      graft.text.Linkage.fuzzyLink(dirty, words, "q", "w",
        minJw = 0.6, lenBand = 2, topK = 1)
    }, Some("""WITH w AS (
       |  SELECT DISTINCT unnest(regexp_split_to_array(text, '\s+')) AS w
       |  FROM documents),
       |dd AS (
       |  SELECT DISTINCT substr(w, 1, 1) || substr(w, 3) AS query
       |  FROM w WHERE len(w) >= 3),
       |cand AS (
       |  SELECT d.query, m.w AS matched,
       |    round(jaro_winkler_similarity(d.query, m.w), 9) AS jw
       |  FROM dd d JOIN w m ON substr(d.query, 1, 1) = substr(m.w, 1, 1)
       |  WHERE abs(len(d.query) - len(m.w)) <= 2
       |    AND round(jaro_winkler_similarity(d.query, m.w), 9) >= 0.6)
       |SELECT query, matched, jw, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query
       |    ORDER BY jw DESC, matched) AS rnk
       |  FROM cand)
       |WHERE rnk <= 1""".stripMargin)),

    ("q161_cluster_best_dedup", (s, d) => {
      // q80's cluster dedup with a production retention policy: keep
      // the LONGEST member of each near-dup cluster (min-id retention
      // silently biases the corpus toward whatever sorted first at
      // ingest). Score = integer token count — argmax is exactly
      // replayable, no float ordering anywhere.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"),
          col("doc_id").as("id2")), Seq("id1"))
      val edges = graft.dedup.NearDup
        .jaccardVerify(pairs, docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      val comps = graft.operators.ConnectedComponents
        .components(edges, "id1", "id2")
      val scored = docs.select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.operators.ConnectedComponents.keepBestRepresentatives(
        scored, "doc_id", comps, "n_tokens")
    }, Some("""WITH RECURSIVE
       |e AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE CAST(len(list_intersect(list_distinct(regexp_split_to_array(a.text, '\s+')),
       |                                list_distinct(regexp_split_to_array(b.text, '\s+')))) AS DOUBLE)
       |    / len(list_distinct(list_concat(regexp_split_to_array(a.text, '\s+'),
       |                                    regexp_split_to_array(b.text, '\s+')))) >= 0.5),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |lab AS (
       |  SELECT u AS id, u AS comp FROM sym
       |  UNION
       |  SELECT sym.u AS id, lab.comp FROM sym JOIN lab ON sym.v = lab.id),
       |comp AS (SELECT id, min(comp) AS component FROM lab GROUP BY id),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |lb AS (
       |  SELECT sc.doc_id, sc.n_tokens,
       |    coalesce(comp.component, sc.doc_id) AS cmp
       |  FROM sc LEFT JOIN comp ON comp.id = sc.doc_id)
       |SELECT doc_id, n_tokens FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cmp
       |    ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM lb)
       |WHERE rn = 1""".stripMargin)),

    ("q162_label_propagation", (s, d) => {
      // product communities via 3 synchronous LPA rounds over the q154
      // co-purchase edge graph (pairs bought together >= 2 times).
      // Deterministic: simultaneous updates, most-frequent neighbor
      // label, min-label ties — the whole run unrolls in SQL.
      val edges = graft.operators.MarketBasket.associationRules(
          t(s, d, "lineitem"), "l_orderkey", "l_partkey", minPairCount = 2)
        .filter(col("antecedent") < col("consequent"))
        .select(col("antecedent").as("x"), col("consequent").as("y"))
      graft.operators.LabelPropagation.propagate(edges, "x", "y", iters = 3)
    }, Some {
      def round(prev: String, out: String) =
        s"""$out AS (SELECT id, community FROM (
           |  SELECT s.dst AS id, l.community, count(*) AS n,
           |    row_number() OVER (PARTITION BY s.dst
           |      ORDER BY count(*) DESC, l.community ASC) AS rn
           |  FROM sym s JOIN $prev l ON s.src = l.id
           |  GROUP BY s.dst, l.community) WHERE rn = 1)"""
      s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
       |e AS (
       |  SELECT a.it AS x, b.it AS y
       |  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |sym AS (SELECT x AS src, y AS dst FROM e
       |        UNION SELECT y AS src, x AS dst FROM e),
       |l0 AS (SELECT DISTINCT src AS id, src AS community FROM sym),
       |${round("l0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT id, community FROM r3""".stripMargin
    }),

    ("q163_triangle_counts", (s, d) => {
      // per-product triangle participation in the co-purchase graph:
      // degree-oriented wedge join (out-degree bounded O(sqrt E) on any
      // graph — id-orientation lets one hub fan out deg² wedges), all
      // integer counts, (degree, id) orientation replayed in SQL.
      val edges = graft.operators.MarketBasket.associationRules(
          t(s, d, "lineitem"), "l_orderkey", "l_partkey", minPairCount = 2)
        .filter(col("antecedent") < col("consequent"))
        .select(col("antecedent").as("x"), col("consequent").as("y"))
      graft.operators.Triangles.perNodeCounts(edges, "x", "y")
    }, Some("""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
       |e AS (
       |  SELECT a.it AS x, b.it AS y
       |  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
       |        FROM e WHERE x <> y),
       |deg AS (SELECT id, count(*) AS dg FROM (
       |    SELECT a AS id FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |o AS (
       |  SELECT CASE WHEN (da.dg, und.a) < (db.dg, und.b)
       |           THEN und.a ELSE und.b END AS u,
       |         CASE WHEN (da.dg, und.a) < (db.dg, und.b)
       |           THEN und.b ELSE und.a END AS v
       |  FROM und JOIN deg da ON da.id = und.a
       |           JOIN deg db ON db.id = und.b),
       |tri AS (
       |  SELECT w1.u AS u, w1.v AS v, w2.v AS w
       |  FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.v <> w2.v
       |  JOIN o oc ON oc.u = w1.v AND oc.v = w2.v)
       |SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
       |  SELECT u AS id FROM tri
       |  UNION ALL SELECT v FROM tri
       |  UNION ALL SELECT w FROM tri)
       |GROUP BY 1""".stripMargin)),

    ("q164_surprisal_decile_filter", (s, d) =>
      // perplexity filtering: mean unigram surprisal per doc, exact
      // integer-rank deciles, worst decile flagged for drop. The mean
      // is SAFE to emit unrounded: identical operands (decimal-exact
      // total, integer count) give bit-identical IEEE quotients —
      // rounding it would reintroduce the q150 round-tie hazard.
      graft.text.CorpusClean.surprisalDecileFilter(
        t(s, d, "documents"), "doc_id", "text", dropWorstDeciles = 1),
      Some(s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |freq AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_tok
       |         FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM tf),
       |per AS (
       |  SELECT tf.doc_id, tf.tf,
       |    tf.tf * round(ln(CAST(n_total AS DOUBLE) / n_tok), 9) AS c
       |  FROM tf JOIN freq USING (token) CROSS JOIN tot),
       |doc AS (
       |  SELECT doc_id, ${dsumSql("c")} AS total_surprisal,
       |    CAST(sum(tf) AS BIGINT) AS n_tokens
       |  FROM per GROUP BY doc_id),
       |m AS (
       |  SELECT *, total_surprisal / n_tokens AS mean_surprisal,
       |    count(*) OVER () AS n
       |  FROM doc),
       |dc AS (
       |  SELECT doc_id, n_tokens, total_surprisal, mean_surprisal,
       |    1 + (10 * (row_number() OVER (ORDER BY mean_surprisal ASC,
       |      doc_id ASC) - 1)) // n AS decile
       |  FROM m)
       |SELECT doc_id, n_tokens, total_surprisal, mean_surprisal,
       |  decile, decile <= 9 AS keep
       |FROM dc""".stripMargin)),

    ("q165_prefix_filter_pairs", (s, d) =>
      // EXACT set-similarity join (PPJoin-style prefix filter): every
      // 3-shingle Jaccard >= 0.9 pair, guaranteed — the deterministic
      // complement to the probabilistic LSH family (q137/q184). Rarest-
      // first prefixes keep the join buckets small by construction.
      graft.dedup.NearDup.prefixFilterPairs(t(s, d, "documents"),
        "doc_id", "text", threshold = 0.9, shingleN = 3),
      Some("""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
       |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
       |  WHERE len(tk) >= 3),
       |freq AS (SELECT g, count(*) AS f FROM sh GROUP BY 1),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |pre AS (
       |  SELECT doc_id, g FROM (
       |    SELECT sh.doc_id, sh.g,
       |      row_number() OVER (PARTITION BY sh.doc_id
       |        ORDER BY f ASC, sh.g ASC) AS rn,
       |      sz.n
       |    FROM sh JOIN freq USING (g) JOIN sz USING (doc_id))
       |  WHERE rn <= n - CAST(ceil(0.9 * n) AS BIGINT) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM pre a JOIN pre b ON a.g = b.g AND a.doc_id < b.doc_id),
       |gs AS (SELECT doc_id, list(g) AS gs FROM sh GROUP BY 1)
       |SELECT id1, id2,
       |  CAST(len(list_intersect(s1.gs, s2.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(s1.gs, s2.gs))) AS jaccard
       |FROM cand
       |JOIN gs s1 ON s1.doc_id = id1
       |JOIN gs s2 ON s2.doc_id = id2
       |WHERE CAST(len(list_intersect(s1.gs, s2.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(s1.gs, s2.gs))) >= 0.9""".stripMargin)),

    ("q166_session_window_kpis", (s, d) =>
      // the NATIVE session_window operator in batch, hash-oracled
      // against a SQL gaps-and-islands replay — certifying the exact
      // session semantics the streaming face reuses. Boundary pinned
      // by direct probe: an event arriving EXACTLY gap after the
      // previous one still extends the session (Spark merges when the
      // new window's start equals the previous end), so the break is
      // strictly > gap; session_end = last event + gap.
      graft.streaming.Streams.sessionWindowKpis(t(s, d, "events"),
        "ts", "user_id", "value", gap = "30 minutes"),
      Some(s"""WITH x AS (
       |  SELECT user_id, ts, value, event_id,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
       |         THEN 1 ELSE 0 END AS brk
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |g AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts,
       |    event_id ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL 30 MINUTE AS session_end,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  ${dsumSql("value")} AS total_value
       |FROM g GROUP BY user_id, sid""".stripMargin)),

    ("q167_unigram_lm_train", (s, d) =>
      // unigram-LM (SentencePiece-style) tokenizer training, 2 EM
      // rounds, fixed vocab: substring seed -> Viterbi E-step (native
      // DP, integer nano-log-prob costs — exact BIGINT path sums, ties
      // to the lexicographically smallest piece string) -> recount
      // M-step. The SQL twin unrolls both rounds with a recursive
      // path-enumeration Viterbi and the same (cost desc, path asc)
      // argmax — the whole EM loop is one hash compare.
      graft.text.Vocab.unigramLmTrain(t(s, d, "documents"),
        "doc_id", "text", maxPieceLen = 4, minCount = 2, iters = 2),
      Some(unigramOracle(
        """SELECT c2.piece, c2.cnt, s2.nanos AS score_nanos
          |FROM c2 JOIN s2 USING (piece)""".stripMargin, rounds = 2))),

    ("q168_unigram_segmentation", (s, d) => {
      // the decode face: Viterbi segmentation of every distinct word
      // under the q167-trained scores (train -> collect the vocab-sized
      // artifact -> codegen'd per-word DP; the corpus-scale path
      // touches distinct words only).
      val trained = graft.text.Vocab.unigramLmTrain(t(s, d, "documents"),
        "doc_id", "text", maxPieceLen = 4, minCount = 2, iters = 2)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      graft.text.Vocab.unigramSegmentWords(t(s, d, "documents"), "text",
        trained, maxPieceLen = 4)
    }, Some(unigramOracle(
      """SELECT w.word, w.cnt, b3.path AS segmentation
        |FROM b3 JOIN words w USING (word)""".stripMargin, rounds = 3))),

    ("q169_snapshot_diff", (s, d) => {
      // CDC extraction from full snapshots: today's customer table is
      // derived from yesterday's by deterministic edits (balance bump
      // on custkey%10=0, deletes on %17=3, inserts on %23=5 under
      // shifted keys) and snapshotDiff recovers exactly the
      // insert/update/delete feed — one full-outer join on the key,
      // null-safe per-column compare, unchanged rows dropped in-plan.
      val cust = t(s, d, "customer")
      val newSnap = cust
        .filter(col("c_custkey") % 17 =!= 3)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 23 === 5)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      graft.operators.SnapshotDiff.snapshotDiff(cust, newSnap,
        Seq("c_custkey"))
    }, Some("""WITH n AS (
       |  SELECT c_custkey, c_name, c_nationkey,
       |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 10.0
       |         ELSE c_acctbal END AS c_acctbal, c_mktsegment
       |  FROM customer WHERE c_custkey % 17 <> 3
       |  UNION ALL
       |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
       |    c_mktsegment
       |  FROM customer WHERE c_custkey % 23 = 5),
       |j AS (
       |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
       |    CASE WHEN o.c_custkey IS NULL THEN 'insert'
       |         WHEN n.c_custkey IS NULL THEN 'delete'
       |         WHEN o.c_name IS NOT DISTINCT FROM n.c_name
       |          AND o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey
       |          AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
       |          AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment
       |         THEN 'unchanged' ELSE 'update' END AS change_type,
       |    o.c_name AS old_c_name, o.c_nationkey AS old_c_nationkey,
       |    o.c_acctbal AS old_c_acctbal,
       |    o.c_mktsegment AS old_c_mktsegment,
       |    n.c_name AS new_c_name, n.c_nationkey AS new_c_nationkey,
       |    n.c_acctbal AS new_c_acctbal,
       |    n.c_mktsegment AS new_c_mktsegment
       |  FROM customer o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey)
       |SELECT * FROM j WHERE change_type <> 'unchanged'""".stripMargin)),

    ("q170_kcore", (s, d) => {
      // 3 synchronous peel rounds toward the 2-core of the co-purchase
      // graph (round count pinned for SQL replay; the operator's
      // fixpoint mode serves production). The k-core is unique, so
      // synchronous peeling is order-independent by construction.
      val edges = graft.operators.MarketBasket.associationRules(
          t(s, d, "lineitem"), "l_orderkey", "l_partkey", minPairCount = 2)
        .filter(col("antecedent") < col("consequent"))
        .select(col("antecedent").as("x"), col("consequent").as("y"))
      graft.operators.KCore.kCore(edges, "x", "y", k = 2,
        maxRounds = 3, toFixpoint = false)
    }, Some {
      def peel(e: String, dNew: String, kNew: String, eNew: String) =
        s"""$dNew AS MATERIALIZED (
           |  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
           |    SELECT x AS id FROM $e UNION ALL SELECT y FROM $e)
           |  GROUP BY 1),
           |$kNew AS MATERIALIZED (SELECT id FROM $dNew WHERE degree >= 2),
           |$eNew AS MATERIALIZED (
           |  SELECT x, y FROM $e
           |  JOIN $kNew ka ON ka.id = $e.x
           |  JOIN $kNew kb ON kb.id = $e.y)"""
      s"""WITH items AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.it AS x, b.it AS y
       |  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |${peel("e0", "d0", "k0", "e1")},
       |${peel("e1", "d1", "k1", "e2")},
       |${peel("e2", "d2", "k2", "e3")}
       |SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
       |  SELECT x AS id FROM e3 UNION ALL SELECT y FROM e3)
       |GROUP BY 1""".stripMargin
    }),

    ("q171_column_profile", (s, d) =>
      // per-column inventory profile of `part` (int/string columns —
      // float→string rendering is not cross-engine-pinned, so
      // p_retailprice stays out by design): nulls, distinct, min/max,
      // modal value with (count desc, value asc) ties. One unpivot ->
      // value-counts pass; stats aggregate the counts.
      graft.operators.Quality.profile(t(s, d, "part"),
        Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")),
      Some("""WITH v AS (
       |  SELECT 'p_partkey' AS col_name, CAST(p_partkey AS VARCHAR) AS value FROM part
       |  UNION ALL SELECT 'p_name', p_name FROM part
       |  UNION ALL SELECT 'p_brand', p_brand FROM part
       |  UNION ALL SELECT 'p_type', p_type FROM part
       |  UNION ALL SELECT 'p_size', CAST(p_size AS VARCHAR) FROM part),
       |vc AS (SELECT col_name, value, count(*) AS n FROM v GROUP BY 1, 2),
       |st AS (
       |  SELECT col_name, CAST(sum(n) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CASE WHEN value IS NULL THEN n END), 0)
       |      AS BIGINT) AS n_nulls,
       |    CAST(count(CASE WHEN value IS NOT NULL THEN 1 END) AS BIGINT)
       |      AS n_distinct,
       |    min(value) AS min_value, max(value) AS max_value
       |  FROM vc GROUP BY 1),
       |top AS (
       |  SELECT col_name, value AS top_value, CAST(n AS BIGINT) AS top_count
       |  FROM (SELECT *, row_number() OVER (PARTITION BY col_name
       |          ORDER BY n DESC, value ASC) AS rn
       |        FROM vc WHERE value IS NOT NULL)
       |  WHERE rn = 1)
       |SELECT st.*, top.top_value, top.top_count
       |FROM st LEFT JOIN top USING (col_name)""".stripMargin)),

    ("q172_fd_violations", (s, d) =>
      // approximate-FD profiling: parts whose name maps to more than
      // one brand — the constraint-discovery pass entity resolution
      // starts from. Two chained aggregations, all integers.
      graft.operators.Quality.fdViolations(t(s, d, "part"),
        Seq("p_name"), "p_brand"),
      Some("""WITH pr AS (
       |  SELECT p_name, p_brand, count(*) AS n
       |  FROM part GROUP BY 1, 2)
       |SELECT p_name, CAST(count(*) AS BIGINT) AS n_rhs_values,
       |  CAST(sum(n) AS BIGINT) AS n_rows
       |FROM pr GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    ("q173_target_encoding", (s, d) =>
      // leakage-safe leave-one-out target encoding of order priority
      // against order value (+ the smoothed variant). Category/global
      // sums are decimal-exact, so every per-row quotient has
      // bit-identical operands in both engines — no rounding needed.
      graft.operators.TargetEncode.leaveOneOut(t(s, d, "orders"),
        "o_orderkey", "o_orderpriority", "o_totalprice", smoothing = 10.0),
      Some(s"""WITH cat AS (
       |  SELECT o_orderpriority, ${dsumSql("o_totalprice")} AS cs,
       |    CAST(count(o_totalprice) AS BIGINT) AS cn
       |  FROM orders GROUP BY 1),
       |gl AS (
       |  SELECT ${dsumSql("o_totalprice")} AS gs,
       |    CAST(count(o_totalprice) AS BIGINT) AS gn
       |  FROM orders)
       |SELECT o_orderkey, o_orderpriority,
       |  CASE WHEN cn > 1
       |    THEN (cs - o_totalprice) / CAST(cn - 1 AS DOUBLE) END
       |    AS loo_encoding,
       |  ((cs - o_totalprice) + 10.0 * (gs / gn))
       |    / (CAST(cn - 1 AS DOUBLE) + 10.0) AS loo_smoothed
       |FROM orders
       |JOIN cat USING (o_orderpriority) CROSS JOIN gl""".stripMargin)),

    ("q174_sorted_neighborhood", (s, d) => {
      // the complementary blocking strategy to q160: merge dirty +
      // clean strings into ONE sorted list and score only sliding-
      // window neighbors — catches lexically-close pairs whose FIRST
      // characters differ (key blocking's blind spot).
      val words = t(s, d, "documents")
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("w"))
        .distinct()
      val dirty = words.filter(length(col("w")) >= 3)
        .select(concat(substring(col("w"), 1, 1), expr("substring(w, 3)"))
          .as("q")).distinct()
      graft.text.Linkage.sortedNeighborhoodPairs(dirty, words, "q", "w",
        windowSize = 4, minJw = 0.6)
    }, Some("""WITH w AS (
       |  SELECT DISTINCT unnest(regexp_split_to_array(text, '\s+')) AS w
       |  FROM documents),
       |dd AS (
       |  SELECT DISTINCT substr(w, 1, 1) || substr(w, 3) AS q
       |  FROM w WHERE len(w) >= 3),
       |uni AS (
       |  SELECT value, src,
       |    row_number() OVER (ORDER BY value ASC, src ASC) AS rn
       |  FROM (SELECT q AS value, 'L' AS src FROM dd
       |        UNION ALL SELECT w, 'R' FROM w)),
       |pairs AS (
       |  SELECT CASE WHEN u1.src = 'L' THEN u1.value ELSE u2.value END
       |      AS query,
       |    CASE WHEN u1.src = 'L' THEN u2.value ELSE u1.value END
       |      AS matched
       |  FROM uni u1 JOIN uni u2
       |    ON u2.rn BETWEEN u1.rn + 1 AND u1.rn + 3
       |  WHERE u1.src <> u2.src)
       |SELECT DISTINCT query, matched,
       |  round(jaro_winkler_similarity(query, matched), 9) AS jw
       |FROM pairs
       |WHERE round(jaro_winkler_similarity(query, matched), 9) >= 0.6"""
      .stripMargin)),

    ("q175_cdf_transform", (s, d) =>
      // empirical-CDF quantile normalization: exact integer ppm from
      // min-ranks (ties share a rank, so the transform is a function
      // of the value), min-ranks via Ranks.minRankOfCounts' bucketed two-pass
      // (no single-partition sort). Registered over lineitem QUANTITY
      // — a genuinely bounded-cardinality column (50 distinct values;
      // the r09 registration on near-unique o_totalprice exercised the
      // operator's own documented degenerate case). line_id =
      // orderkey·10 + linenumber (linenumber ≤ 7) keys rows uniquely.
      graft.operators.TargetEncode.cdfTransform(
        t(s, d, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"),
          col("l_quantity")),
        "line_id", "l_quantity"),
      Some("""WITH li AS (
       |  SELECT l_orderkey * 10 + l_linenumber AS line_id, l_quantity
       |  FROM lineitem),
       |vals AS (
       |  SELECT l_quantity, CAST(count(*) AS BIGINT) AS c
       |  FROM li WHERE l_quantity IS NOT NULL GROUP BY 1),
       |rk AS (
       |  SELECT l_quantity,
       |    1 + coalesce(sum(c) OVER (ORDER BY l_quantity
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS rnk,
       |    sum(c) OVER () AS n
       |  FROM vals),
       |cdf AS (
       |  SELECT l_quantity,
       |    -- CAST: sum() OVER widens to HUGEINT in DuckDB; the driver's
       |    -- pandas bridge renders int128 as float64 and the hash
       |    -- diverges from Spark's int64 even when values are equal.
       |    CAST(CASE WHEN n > 1 THEN (rnk - 1) * 1000000 // (n - 1)
       |         ELSE 0 END AS BIGINT) AS cdf_ppm
       |  FROM rk)
       |SELECT line_id, l_quantity, cdf_ppm
       |FROM li LEFT JOIN cdf USING (l_quantity)""".stripMargin)),

    ("q176_hits", (s, d) => {
      // HITS over the customer→part purchase bipartite graph: 2 fixed
      // rounds, L1 normalization to an exact-decimal total of 1e6
      // (no square roots — every scale factor is a quotient of decimal
      // operands), 6 dp rounding per normalization so the next round's
      // DECIMAL(18,6) accumulator casts EXACTLY (9 dp values sit on
      // the cast's half-way grid — see Hits scaladoc). Fully unrolled
      // in SQL (MATERIALIZED CTEs — the q170 lesson).
      val e = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      graft.operators.Hits.hits(e, "c", "p", iters = 2)
    }, Some {
      def half(e: String, in: String, inKey: String, outKey: String,
               raw: String, out: String) =
        s"""$raw AS MATERIALIZED (
           |  SELECT $outKey, ${dsumSql("v.s")} AS s
           |  FROM $e JOIN $in v USING ($inKey) GROUP BY 1),
           |$out AS MATERIALIZED (
           |  SELECT $outKey, round(s * 1000000.0 / t, 6) AS s
           |  FROM $raw CROSS JOIN
           |    (SELECT ${dsumSql("s")} AS t FROM $raw) x)"""
      s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |h0 AS MATERIALIZED (
       |  SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS s FROM e),
       |${half("e", "h0", "c", "p", "a1r", "a1")},
       |${half("e", "a1", "p", "c", "h1r", "h1")},
       |${half("e", "h1", "c", "p", "a2r", "a2")},
       |${half("e", "a2", "p", "c", "h2r", "h2")}
       |SELECT 'hub' AS kind, c AS id, s AS score FROM h2
       |UNION ALL
       |SELECT 'authority' AS kind, p AS id, s AS score FROM a2"""
        .stripMargin
    }),

    ("q195_hits_deep", (s, d) => {
      // the DEEP HITS strategy (iters >= DeepIters: agg + broadcast
      // crossJoin totals with a checkpoint per half-round — no
      // single-partition window anywhere), CORRECTNESS-gated like
      // q191 does for PageRank's pre-partitioned shape. Graph:
      // customer→part purchases restricted to the first two lines of
      // each order, so iteration depth dominates the cheap edge
      // build. Oracle unrolls all 8 half-rounds with q176's exact
      // normalization recipe (decimal L1 totals, 6 dp grid).
      val e = t(s, d, "orders")
        .join(t(s, d, "lineitem").filter(col("l_linenumber") <= 2),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      graft.operators.Hits.hits(e, "c", "p", iters = 4)
    }, Some {
      def half(e: String, in: String, inKey: String, outKey: String,
               raw: String, out: String) =
        s"""$raw AS MATERIALIZED (
           |  SELECT $outKey, ${dsumSql("v.s")} AS s
           |  FROM $e JOIN $in v USING ($inKey) GROUP BY 1),
           |$out AS MATERIALIZED (
           |  SELECT $outKey, round(s * 1000000.0 / t, 6) AS s
           |  FROM $raw CROSS JOIN
           |    (SELECT ${dsumSql("s")} AS t FROM $raw) x)"""
      val rounds = (1 to 4).map { i =>
        val hPrev = if (i == 1) "h0" else s"h${i - 1}"
        half("e", hPrev, "c", "p", s"a${i}r", s"a$i") + ",\n" +
          half("e", s"a$i", "p", "c", s"h${i}r", s"h$i")
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE l_linenumber <= 2),
       |h0 AS MATERIALIZED (
       |  SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS s FROM e),
       |$rounds
       |SELECT 'hub' AS kind, c AS id, s AS score FROM h4
       |UNION ALL
       |SELECT 'authority' AS kind, p AS id, s AS score FROM a4"""
        .stripMargin
    }),

    ("q178_token_pmi", (s, d) =>
      // pointwise mutual information over within-doc token
      // co-occurrence — the count-based word-association table (the
      // statistic SGNS embeddings implicitly factorize). Pure reuse:
      // the q154 basket machinery with docs as baskets; PMI =
      // ln(lift) recomputed from the EXACT integer counts (never from
      // the ppm column — floor division would poison the log),
      // rounded 9 dp.
      graft.operators.MarketBasket.associationRules(
          t(s, d, "documents").select(col("doc_id"),
            explode(array_distinct(
              graft.text.TextOps.tokens(col("text")))).as("token")),
          "doc_id", "token", minPairCount = 3)
        .filter(col("antecedent") < col("consequent"))
        .select(col("antecedent"), col("consequent"), col("pair_count"),
          // cast BEFORE multiplying: the BIGINT product wraps at corpus
          // scale; double products are IEEE-exact below 2^53 and
          // deterministic beyond it on every engine.
          round(log(
            (col("pair_count").cast("double") *
              col("n_baskets").cast("double")) /
              (col("antecedent_count").cast("double") *
                col("consequent_count").cast("double"))), 9).as("pmi")),
      Some("""WITH items AS (
       |  SELECT DISTINCT doc_id AS bk,
       |    unnest(regexp_split_to_array(text, '\s+')) AS it
       |  FROM documents),
       |nb AS (SELECT count(DISTINCT bk) AS n FROM items),
       |icnt AS (SELECT it, count(*) AS c FROM items GROUP BY 1),
       |pairs AS (
       |  SELECT a.it AS antecedent, b.it AS consequent, count(*) AS pc
       |  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
       |  GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT antecedent, consequent, pc AS pair_count,
       |  round(ln((CAST(pc AS DOUBLE) * n)
       |    / (CAST(ca.c AS DOUBLE) * cb.c)), 9) AS pmi
       |FROM pairs
       |JOIN icnt ca ON ca.it = antecedent
       |JOIN icnt cb ON cb.it = consequent
       |CROSS JOIN nb""".stripMargin)),

    ("q179_gains_table", (s, d) => {
      // model-eval gains/lift table: rank orders by a score (here the
      // raw order value as a stand-in model output), exact integer
      // deciles, per-decile positives (urgent orders) and CUMULATIVE
      // capture in ppm — every number integer or an exact-decimal sum.
      // Ranks via the bucketed two-pass operator (Ranks.rowNumber) —
      // the r09 perf-weak fix: no fact-scale single-partition window
      // anywhere; the only global windows left run over the 10-row
      // decile table. Totals ride the q90 one-row-crossJoin pattern.
      import org.apache.spark.sql.expressions.Window
      val scored = t(s, d, "orders").select(col("o_orderkey"),
        col("o_totalprice").as("score"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("label"))
      val nRow = scored.agg(count(lit(1)).as("__n"))
      val ranked = graft.operators.Ranks.rowNumber(scored, "score",
          ascending = false, tiebreaks = Seq("o_orderkey"), out = "__rn")
        .crossJoin(broadcast(nRow))
        .withColumn("decile", lit(1L) + expr("10L * (__rn - 1) div __n"))
      val dec = ranked.groupBy("decile").agg(
        count(lit(1)).as("n"),
        sum(col("label")).as("positives"))
      val all = Window.partitionBy()
      val cum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec
        .withColumn("__tot", sum(col("positives")).over(all))
        .withColumn("cum_positives", sum(col("positives")).over(cum))
        .select(col("decile"), col("n"), col("positives"),
          expr("cum_positives * 1000000L div __tot").as("cum_capture_ppm"))
    }, Some("""WITH scored AS (
       |  SELECT o_orderkey, o_totalprice AS score,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
       |      AS label,
       |    count(*) OVER () AS n,
       |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
       |      AS rnk
       |  FROM orders),
       |dec AS (
       |  SELECT 1 + (10 * (rnk - 1)) // n AS decile,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(label) AS BIGINT) AS positives
       |  FROM scored GROUP BY 1)
       |SELECT decile, n, positives,
       |  -- CAST: sum() OVER widens to HUGEINT in DuckDB (float64 through
       |  -- the driver's pandas bridge → hash mismatch vs Spark's int64).
       |  CAST((sum(positives) OVER (ORDER BY decile
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |    * 1000000 // (sum(positives) OVER ()) AS BIGINT)
       |    AS cum_capture_ppm
       |FROM dec""".stripMargin)),

    ("q182_corpus_build_v2", (s, d) => {
      // corpus build composed from THIS session's operators, certified
      // by one hash compare (the q126 pattern): perplexity-decile
      // fluency gate (drop the worst decile) → EXACT prefix-filter
      // near-dup pairs over the survivors → connected components →
      // keep the LONGEST member per cluster. Every stage is
      // individually oracled (q164/q165/q161); this certifies their
      // COMPOSITION.
      val docs = t(s, d, "documents").select("doc_id", "text")
      // kept is referenced once here and then re-evaluated through
      // `surv` at every reference prefixFilterPairs makes to its input
      // (shingle build, frequency join, jaccard verify). For q165 that
      // input is a cheap parquet scan; HERE it is the whole surprisal
      // pipeline — the lineage rule says checkpoint. Interleaved A/B
      // at soak sf1 (`git checkout c6a12ee && sbt 'runMain
      // graft.AbBench q182_corpus_build_v2 v182_lazy_kept'`, busy
      // box): checkpoint 3/5, medians 77.2 s vs 86.8 s — a real
      // but modest win; the re-derivations mostly hit cached parquet,
      // so only the surprisal aggregates themselves were being repaid.
      val kept = graft.text.CorpusClean.surprisalDecileFilter(
          docs, "doc_id", "text", dropWorstDeciles = 1)
        .filter(col("keep"))
        .select("doc_id", "n_tokens")
        .localCheckpoint(true)
      val surv = docs.join(kept.select("doc_id"), Seq("doc_id"))
      val pairs = graft.dedup.NearDup.prefixFilterPairs(surv,
        "doc_id", "text", threshold = 0.9, shingleN = 3)
        .select(col("id1"), col("id2"))
      val comps = graft.operators.ConnectedComponents
        .components(pairs, "id1", "id2")
      graft.operators.ConnectedComponents.keepBestRepresentatives(
        kept, "doc_id", comps, "n_tokens")
    }, Some(s"""WITH RECURSIVE tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |freq AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_tok
       |         FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM tf),
       |per AS (
       |  SELECT tf.doc_id, tf.tf,
       |    tf.tf * round(ln(CAST(n_total AS DOUBLE) / n_tok), 9) AS c
       |  FROM tf JOIN freq USING (token) CROSS JOIN tot),
       |doc AS (
       |  SELECT doc_id, ${dsumSql("c")} AS ts,
       |    CAST(sum(tf) AS BIGINT) AS n_tokens
       |  FROM per GROUP BY doc_id),
       |dc AS (
       |  SELECT doc_id, n_tokens,
       |    1 + (10 * (row_number() OVER (ORDER BY ts / n_tokens ASC,
       |      doc_id ASC) - 1)) // (count(*) OVER ()) AS decile
       |  FROM doc),
       |kept AS (SELECT doc_id, n_tokens FROM dc WHERE decile <= 9),
       |sdoc AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN kept USING (doc_id)),
       |toks2 AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
       |  FROM sdoc),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
       |  FROM toks2, UNNEST(range(1, len(tk) - 1)) AS u(i)
       |  WHERE len(tk) >= 3),
       |fr AS (SELECT g, count(*) AS f FROM sh GROUP BY 1),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |pre AS MATERIALIZED (
       |  SELECT doc_id, g FROM (
       |    SELECT sh.doc_id, sh.g,
       |      row_number() OVER (PARTITION BY sh.doc_id
       |        ORDER BY f ASC, sh.g ASC) AS rn,
       |      sz.n
       |    FROM sh JOIN fr USING (g) JOIN sz USING (doc_id))
       |  WHERE rn <= n - CAST(ceil(0.9 * n) AS BIGINT) + 1),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM pre a JOIN pre b ON a.g = b.g AND a.doc_id < b.doc_id),
       |gs AS MATERIALIZED (SELECT doc_id, list(g) AS gs FROM sh GROUP BY 1),
       |e AS MATERIALIZED (
       |  SELECT id1 AS u, id2 AS v FROM cand
       |  JOIN gs s1 ON s1.doc_id = id1
       |  JOIN gs s2 ON s2.doc_id = id2
       |  WHERE CAST(len(list_intersect(s1.gs, s2.gs)) AS DOUBLE) /
       |      len(list_distinct(list_concat(s1.gs, s2.gs))) >= 0.9),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |lab AS (
       |  SELECT u AS id, u AS comp FROM sym
       |  UNION
       |  SELECT sym.u AS id, lab.comp FROM sym JOIN lab ON sym.v = lab.id),
       |comp AS (SELECT id, min(comp) AS component FROM lab GROUP BY id),
       |lb AS (
       |  SELECT k.doc_id, k.n_tokens,
       |    coalesce(comp.component, k.doc_id) AS cmp
       |  FROM kept k LEFT JOIN comp ON comp.id = k.doc_id)
       |SELECT doc_id, n_tokens FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cmp
       |    ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM lb)
       |WHERE rn = 1""".stripMargin)),

    ("q183_minhash_portable", (s, d) =>
      // MinHash signatures, exploded to flat (doc_id, i, minhash) rows:
      // rolling token/shingle folds + the universal (a·s+b) mod p
      // family replay exactly in SQL, so the signature TABLE is one
      // hash compare, not a rows-only count. A doc shorter than one
      // shingle has an empty sig and drops at the filter; a plain
      // posexplode would have the optimizer infer a size(sig) > 0
      // filter and push it below the signature projection, computing
      // each signature twice.
      graft.dedup.NearDup.minhashSignatures(
        t(s, d, "documents"), "doc_id", "text", k = 16, shingleN = 3)
        .select(col("doc_id"), posexplode_outer(col("sig")))
        .filter(col("pos").isNotNull)
        .select(col("doc_id"), col("pos").cast("long").as("i"),
          col("col").as("minhash")),
      Some(s"""WITH tok AS (
       |  SELECT doc_id, generate_subscripts(tk, 1) AS p, unnest(tk) AS t
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
       |        FROM documents)),
       |th AS (
       |  SELECT doc_id, p,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(t, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007) AS h
       |  FROM tok),
       |sh AS (
       |  SELECT doc_id,
       |    ((h * 31 + h1) % 1000000007 * 31 + h2) % 1000000007 AS s
       |  FROM (
       |    SELECT doc_id, h,
       |      lead(h, 1) OVER (PARTITION BY doc_id ORDER BY p) AS h1,
       |      lead(h, 2) OVER (PARTITION BY doc_id ORDER BY p) AS h2
       |    FROM th)
       |  WHERE h2 IS NOT NULL),
       |hf AS (
       |  SELECT i, (i + 1) * 2654435761 % 999999937 + 1 AS a,
       |    (i + 1) * 2246822519 % 999999937 AS b
       |  FROM range(16) ii(i))
       |SELECT doc_id, i, min((a * s + b) % 1000000007) AS minhash
       |FROM sh CROSS JOIN hf
       |GROUP BY 1, 2""".stripMargin)),

    ("q184_near_dup_pairs_portable", (s, d) =>
      // END-TO-END near-dup: signatures → band folds → capped bucket
      // self-join → 3-shingle Jaccard >= 0.5, with every hash
      // SQL-replayable, so signatures, bands, candidate generation, AND
      // the verified pair set are certified by one hash compare.
      graft.dedup.NearDup.nearDupPairs(
        t(s, d, "documents"), "doc_id", "text", threshold = 0.5,
        k = 16, bands = 4, shingleN = 3),
      Some(s"""WITH tok AS (
       |  SELECT doc_id, generate_subscripts(tk, 1) AS p, unnest(tk) AS t
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
       |        FROM documents)),
       |th AS (
       |  SELECT doc_id, p,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(t, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007) AS h
       |  FROM tok),
       |sh AS (
       |  SELECT doc_id,
       |    ((h * 31 + h1) % 1000000007 * 31 + h2) % 1000000007 AS s
       |  FROM (
       |    SELECT doc_id, h,
       |      lead(h, 1) OVER (PARTITION BY doc_id ORDER BY p) AS h1,
       |      lead(h, 2) OVER (PARTITION BY doc_id ORDER BY p) AS h2
       |    FROM th)
       |  WHERE h2 IS NOT NULL),
       |hf AS (
       |  SELECT i, (i + 1) * 2654435761 % 999999937 + 1 AS a,
       |    (i + 1) * 2246822519 % 999999937 AS b
       |  FROM range(16) ii(i)),
       |mh AS MATERIALIZED (
       |  SELECT doc_id, i, min((a * s + b) % 1000000007) AS m
       |  FROM sh CROSS JOIN hf
       |  GROUP BY 1, 2),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, i // 4 AS band_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(m ORDER BY i)),
       |      (a, b) -> (a * 31 + b) % 1000000007) AS band_hash
       |  FROM mh GROUP BY doc_id, i // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |grams AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
       |        FROM documents), UNNEST(range(1, len(tk) - 1)) AS u(i)
       |  WHERE len(tk) >= 3),
       |gs AS MATERIALIZED (SELECT doc_id, list(g) AS gs FROM grams
       |  GROUP BY 1)
       |SELECT id1, id2,
       |  CAST(len(list_intersect(s1.gs, s2.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(s1.gs, s2.gs))) AS jaccard
       |FROM cand
       |JOIN gs s1 ON s1.doc_id = id1
       |JOIN gs s2 ON s2.doc_id = id2
       |WHERE CAST(len(list_intersect(s1.gs, s2.gs)) AS DOUBLE) /
       |    len(list_distinct(list_concat(s1.gs, s2.gs))) >= 0.5"""
        .stripMargin)),

    ("q185_global_rank", (s, d) =>
      // the distributed exact-rank operator registered DIRECTLY on a
      // fact-scale, near-unique column — the regime whose single-
      // partition window q179/q175 previously paid for. Bucketed
      // two-pass: approx-percentile cuts assign buckets (pure function
      // of the value), exact per-bucket offsets + local ranks, result
      // bit-equal to the global window the oracle runs.
      graft.operators.Ranks.rowNumber(
        t(s, d, "events").select(col("event_id"), col("value")),
        "value", ascending = false, tiebreaks = Seq("event_id"),
        out = "rn"),
      Some("""SELECT event_id, value,
       |  row_number() OVER (ORDER BY value DESC, event_id ASC) AS rn
       |FROM events""".stripMargin)),

    ("q186_funnel", (s, d) =>
      // strict-order first-touch conversion funnel view→click→purchase
      // within a 7-day window of the first view: per step one filter +
      // one user-key equi-join + one min-aggregate (no global windows,
      // reached-set shrinks down the funnel); conversion in exact
      // integer ppm of the step-1 cohort.
      graft.gold.Funnel.funnel(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), windowDays = 7),
      Some("""WITH s1 AS (
       |  SELECT user_id AS u, min(epoch_us(ts)) AS t1
       |  FROM events WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (
       |  SELECT e.user_id AS u, s1.t1, min(epoch_us(e.ts)) AS t2
       |  FROM events e JOIN s1 ON s1.u = e.user_id
       |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
       |    AND epoch_us(e.ts) <= s1.t1 + 604800000000
       |  GROUP BY 1, 2),
       |s3 AS (
       |  SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t3
       |  FROM events e JOIN s2 ON s2.u = e.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
       |    AND epoch_us(e.ts) <= s2.t1 + 604800000000
       |  GROUP BY 1),
       |c AS (
       |  SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_idx,
       |    CAST(count(*) AS BIGINT) AS users FROM s1
       |  UNION ALL SELECT 'click', 2, count(*) FROM s2
       |  UNION ALL SELECT 'purchase', 3, count(*) FROM s3),
       |b AS (SELECT users AS base FROM c WHERE step_idx = 1)
       |SELECT step, step_idx, users,
       |  users * 1000000 // base AS conversion_ppm
       |FROM c CROSS JOIN b""".stripMargin)),

    ("q187_cohort_retention", (s, d) =>
      // day-grain cohort retention matrix: users cohorted by first
      // active day, (cohort, days_since) activity counts, retention in
      // exact integer ppm — one distinct, one min, one join back, one
      // aggregate, all on user/day keys.
      graft.gold.Funnel.cohortRetention(t(s, d, "events"), "user_id",
        "ts"),
      Some("""WITH act AS (
       |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
       |  FROM events),
       |fst AS (SELECT u, min(d) AS cohort_date FROM act GROUP BY 1),
       |sizes AS (SELECT cohort_date, CAST(count(*) AS BIGINT)
       |    AS cohort_size
       |  FROM fst GROUP BY 1),
       |m AS (
       |  SELECT cohort_date,
       |    CAST(date_diff('day', cohort_date, d) AS BIGINT) AS days_since,
       |    CAST(count(*) AS BIGINT) AS active_users
       |  FROM act JOIN fst USING (u) GROUP BY 1, 2)
       |SELECT cohort_date, days_since, active_users, cohort_size,
       |  active_users * 1000000 // cohort_size AS retention_ppm
       |FROM m JOIN sizes USING (cohort_date)""".stripMargin)),

    ("q188_incremental_agg", (s, d) => {
      // materialized-view maintenance: per-priority sum/count refreshed
      // from a snapshotDiff changefeed (inserts %10-only keys, deletes
      // %7 keys, updates moving %13 keys across groups and bumping %3
      // values) — the ORACLE is the from-scratch GROUP BY over the new
      // snapshot, so the compare certifies apply(agg(old), diff) ==
      // agg(new) bit-exactly (decimal accumulator — a double running
      // sum would drift an ulp per refresh).
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val old = orders.filter(col("o_orderkey") % 10 =!= 0)
      val nw = orders.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 13 === 0, lit("1-URGENT"))
            .otherwise(col("o_orderpriority")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")))
      val feed = graft.operators.SnapshotDiff.snapshotDiff(old, nw,
        Seq("o_orderkey"))
      val base = graft.operators.IncrementalAgg.sumCountAgg(old,
        "o_orderpriority", "o_totalprice")
      graft.operators.IncrementalAgg.applyAggDelta(base, feed,
          "o_orderpriority", "o_totalprice")
        .select(col("o_orderpriority"),
          col("sum_value").cast("double").as("sum_value"),
          col("n_rows"))
    }, Some("""WITH nw AS (
       |  SELECT CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
       |      ELSE o_orderpriority END AS o_orderpriority,
       |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
       |      ELSE o_totalprice END AS v
       |  FROM orders WHERE o_orderkey % 7 <> 0)
       |SELECT o_orderpriority,
       |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       |  CAST(count(*) AS BIGINT) AS n_rows
       |FROM nw GROUP BY 1""".stripMargin)),

    ("q189_simhash_portable", (s, d) =>
      // portable 60-bit SimHash signatures: per-occurrence ±1 votes
      // over two universal expansions of the rolling token hash, tie → 0. A
      // pure native-expression projection on the Spark side; the
      // oracle replays token hash → two expansions → 60 bit votes →
      // sign pack.
      graft.dedup.NearDup.simhashPortable(t(s, d, "documents"),
        "doc_id", "text"),
      Some(simhashPortableSql + "\n" +
        """SELECT doc_id,
       |  CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << i
       |    ELSE 0 END) AS BIGINT) AS simhash
       |FROM v GROUP BY 1""".stripMargin)),

    ("q190_simhash_pairs_portable", (s, d) => {
      // END-TO-END portable SimHash near-dup: portable signatures →
      // 4×15-bit pigeonhole blocking (any pair within Hamming 3 agrees
      // exactly on ≥ 1 block) → capped block self-join → Hamming ≤ 3,
      // with every bit SQL-replayable, one hash compare.
      val sigs = graft.dedup.NearDup.simhashPortable(
        t(s, d, "documents"), "doc_id", "text")
      graft.dedup.NearDup.simhashPairs(sigs, "doc_id", maxHamming = 3,
        blocks = 4, bits = 60)
    }, Some(simhashPortableSql + ",\n" +
      """sg AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << i
       |      ELSE 0 END) AS BIGINT) AS simhash
       |  FROM v GROUP BY 1),
       |blk AS (
       |  SELECT doc_id, simhash, bb.b AS block_id,
       |    (simhash >> CAST(bb.b * 15 AS INTEGER)) & 32767 AS block_val
       |  FROM sg CROSS JOIN range(4) bb(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, a.simhash AS s1,
       |    b.doc_id AS id2, b.simhash AS s2
       |  FROM blk a JOIN blk b
       |    ON a.block_id = b.block_id AND a.block_val = b.block_val
       |   AND a.doc_id < b.doc_id)
       |SELECT id1, id2, bit_count(xor(s1, s2)) AS hamming
       |FROM cand WHERE bit_count(xor(s1, s2)) <= 3""".stripMargin)),

    ("q181_entity_resolution", (s, d) => {
      // the ER pipeline COMPOSED and certified by one hash compare
      // (the q126 pattern): corrupted strings resolve against the
      // clean vocabulary through the UNION of both blocking strategies
      // (first-char keys ∪ sorted neighbors — complementary candidate
      // sets), then one (jw desc, matched asc) top-1 per query.
      val words = t(s, d, "documents")
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("w"))
        .distinct()
      val dirty = words.filter(length(col("w")) >= 3)
        .select(concat(substring(col("w"), 1, 1), expr("substring(w, 3)"))
          .as("q")).distinct()
      val blocked = graft.text.Linkage.fuzzyLink(dirty, words, "q", "w",
        minJw = 0.6, lenBand = 2, topK = 1000)
        .select("query", "matched", "jw")
      val sorted = graft.text.Linkage.sortedNeighborhoodPairs(dirty, words,
        "q", "w", windowSize = 4, minJw = 0.6)
      val cand = blocked.unionByName(sorted).distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("query")
        .orderBy(col("jw").desc, col("matched").asc)
      cand.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("query", "matched", "jw")
    }, Some("""WITH w AS (
       |  SELECT DISTINCT unnest(regexp_split_to_array(text, '\s+')) AS w
       |  FROM documents),
       |dd AS (
       |  SELECT DISTINCT substr(w, 1, 1) || substr(w, 3) AS q
       |  FROM w WHERE len(w) >= 3),
       |blocked AS (
       |  SELECT d.q AS query, m.w AS matched,
       |    round(jaro_winkler_similarity(d.q, m.w), 9) AS jw
       |  FROM dd d JOIN w m ON substr(d.q, 1, 1) = substr(m.w, 1, 1)
       |  WHERE abs(len(d.q) - len(m.w)) <= 2
       |    AND round(jaro_winkler_similarity(d.q, m.w), 9) >= 0.6),
       |uni AS (
       |  SELECT value, src,
       |    row_number() OVER (ORDER BY value ASC, src ASC) AS rn
       |  FROM (SELECT q AS value, 'L' AS src FROM dd
       |        UNION ALL SELECT w, 'R' FROM w)),
       |sn AS (
       |  SELECT DISTINCT
       |    CASE WHEN u1.src = 'L' THEN u1.value ELSE u2.value END
       |      AS query,
       |    CASE WHEN u1.src = 'L' THEN u2.value ELSE u1.value END
       |      AS matched
       |  FROM uni u1 JOIN uni u2
       |    ON u2.rn BETWEEN u1.rn + 1 AND u1.rn + 3
       |  WHERE u1.src <> u2.src),
       |snj AS (
       |  SELECT query, matched,
       |    round(jaro_winkler_similarity(query, matched), 9) AS jw
       |  FROM sn
       |  WHERE round(jaro_winkler_similarity(query, matched), 9) >= 0.6),
       |cand AS (
       |  SELECT DISTINCT query, matched, jw FROM (
       |    SELECT * FROM blocked UNION ALL SELECT * FROM snj))
       |SELECT query, matched, jw FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query
       |    ORDER BY jw DESC, matched ASC) AS rn
       |  FROM cand)
       |WHERE rn = 1""".stripMargin)),

    ("q180_weighted_median", (s, d) => {
      // exact weighted median (lower) of price per return flag,
      // quantity-weighted: per-group value sort, integer cumulative
      // weights, first value whose doubled cumsum reaches the total —
      // every comparison integer, no interpolation ambiguity.
      import org.apache.spark.sql.expressions.Window
      val rows = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice").as("v"),
        col("l_quantity").cast("long").as("w"))
      val g = rows.groupBy("l_returnflag", "v")
        .agg(sum(col("w")).as("w"))
      val cum = Window.partitionBy("l_returnflag").orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy("l_returnflag")
      g.withColumn("__cw", sum(col("w")).over(cum))
        .withColumn("__tw", sum(col("w")).over(tot))
        .filter(col("__cw") * 2 >= col("__tw"))
        .groupBy("l_returnflag")
        .agg(min(col("v")).as("weighted_median"),
          max(col("__tw")).as("total_weight"))
    }, Some("""WITH g AS (
       |  SELECT l_returnflag, l_extendedprice AS v,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |c AS (
       |  SELECT l_returnflag, v, w,
       |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
       |    sum(w) OVER (PARTITION BY l_returnflag) AS tw
       |  FROM g)
       |SELECT l_returnflag, min(v) AS weighted_median,
       |  CAST(max(tw) AS BIGINT) AS total_weight
       |FROM c WHERE cw * 2 >= tw GROUP BY 1""".stripMargin)),

    ("q177_rate_anomalies", (s, d) => {
      // operational anomaly gate: each (event_type, day)'s volume
      // z-scored against its own TRAILING 7-day window (current day
      // excluded — an anomaly must not inflate its own baseline).
      // Decimal-exact window moments; sqrt is IEEE-exact; z emitted
      // unrounded (deterministic operands, the q164 rule). A window
      // with zero variance has no z: try_divide gives NULL there, as
      // the oracle's division does, where ANSI `/` would throw.
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy(col("day"))
        .rowsBetween(-7, -1)
      val m = (sum(col("n").cast(graft.Exprs.Money)).over(w) /
        count(lit(1)).over(w)).cast("double")
      val m2 = (sum((col("n") * col("n")).cast(graft.Exprs.Money)).over(w) /
        count(lit(1)).over(w)).cast("double")
      daily
        .withColumn("trail_n", count(lit(1)).over(w))
        .withColumn("trail_mean", m)
        .withColumn("z", try_divide(col("n") - m, sqrt(m2 - m * m)))
        .filter(col("trail_n") >= 3)
        .select(col("event_type"), col("day"), col("n"),
          col("trail_mean"), col("z"),
          (abs(col("z")) > 3.0).as("is_anomaly"))
    }, Some("""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, day, n,
       |    count(*) OVER w AS trail_n,
       |    CAST(sum(CAST(n AS DECIMAL(18,6))) OVER w AS DOUBLE)
       |      / count(*) OVER w AS m,
       |    CAST(sum(CAST(n * n AS DECIMAL(18,6))) OVER w AS DOUBLE)
       |      / count(*) OVER w AS m2
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
       |SELECT event_type, day, n, m AS trail_mean,
       |  (n - m) / sqrt(m2 - m * m) AS z,
       |  abs((n - m) / sqrt(m2 - m * m)) > 3.0 AS is_anomaly
       |FROM st WHERE trail_n >= 3""".stripMargin)),

    ("q152_cluster_safe_split", (s, d) => {
      // leakage-safe 80/10/10: near-dup cluster members all draw the
      // split of their cluster representative (q71's edges -> CC ->
      // hash the component id), singletons degenerate to q118's plain
      // hashSplit. The oracle replays the recursive transitive
      // closure, the representative coalesce, and the frozen split
      // hash — assignment-exact.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"),
          col("doc_id").as("id2")), Seq("id1"))
      val edges = graft.dedup.NearDup.jaccardVerify(pairs, docs,
          "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      graft.operators.Sample.clusterSafeSplit(
        docs.select("doc_id"), "doc_id", edges,
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
    }, Some("""WITH RECURSIVE
       |e AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE CAST(len(list_intersect(list_distinct(regexp_split_to_array(a.text, '\s+')),
       |                                list_distinct(regexp_split_to_array(b.text, '\s+')))) AS DOUBLE)
       |    / len(list_distinct(list_concat(regexp_split_to_array(a.text, '\s+'),
       |                                    regexp_split_to_array(b.text, '\s+')))) >= 0.5),
       |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       |lab AS (
       |  SELECT u AS id, u AS comp FROM sym
       |  UNION
       |  SELECT sym.u AS id, lab.comp FROM sym JOIN lab ON sym.v = lab.id),
       |comp AS (SELECT id, min(comp) AS component FROM lab GROUP BY id),
       |g AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |b AS (
       |  SELECT doc_id,
       |    ((((grp + 7919) % 100000007) * 2654435761 % 99999989)
       |      * 2246822519) % 1000 AS bucket
       |  FROM g)
       |SELECT doc_id,
       |  CASE WHEN bucket < 800 THEN 'train'
       |       WHEN bucket < 900 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b""".stripMargin)),

    ("q151_scd2_dimension", (s, d) =>
      // SCD Type-2 customer-status dimension off the order history:
      // consecutive identical states collapse, each version carries
      // [valid_from, valid_to) and is_current — the warehouse history
      // pattern the flat upsert family overwrites away. o_orderkey
      // breaks same-date ties (required for determinism). Both windows
      // share one customer-key exchange.
      graft.operators.Upsert.scd2FromHistory(
        t(s, d, "orders").select("o_custkey", "o_orderstatus",
          "o_orderdate", "o_orderkey"),
        keyCols = Seq("o_custkey"), attrCols = Seq("o_orderstatus"),
        tsCol = "o_orderdate", tieCols = Seq("o_orderkey"))
        .select("o_custkey", "o_orderstatus", "valid_from", "valid_to",
          "is_current"),
      Some("""WITH f AS (
         |  SELECT o_custkey, o_orderstatus, o_orderdate,
         |    row_number() OVER w AS rn,
         |    lag(o_orderstatus) OVER w AS prev,
         |    o_orderkey
         |  FROM orders
         |  WINDOW w AS (PARTITION BY o_custkey
         |               ORDER BY o_orderdate, o_orderkey)),
         |c AS (
         |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM f
         |  WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev)
         |SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
         |  lead(o_orderdate) OVER (PARTITION BY o_custkey
         |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
         |  lead(o_orderdate) OVER (PARTITION BY o_custkey
         |    ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
         |FROM c""".stripMargin)),

    ("q149_kn_bigram_lm", (s, d) =>
      // the shipped n-gram-LM artifact: interpolated Kneser-Ney
      // probabilities for every observed bigram — absolute discounting
      // + continuation backoff, all inputs exact counts off ONE
      // aggregated bigram table, the probability closed-form in the
      // oracle's operand order (DOUBLE-cast literals: DuckDB types
      // bare 0.75 as DECIMAL and diverges past the 9 dp round)
      graft.text.Vocab.knBigramLm(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH $knLmSql
         |SELECT w1, w2, c12, p_kn FROM lm""".stripMargin)),

    ("q150_kn_surprisal", (s, d) =>
      // per-doc fluency under the corpus's own KN bigram LM: q114's
      // unigram surprisal with real context — a shuffled doc keeps its
      // unigram score but its improbable bigrams light up here. ln
      // rounded 9 dp per bigram, per-doc TOTAL in exact decimal — the
      // total, not the mean: rounding the quotient total/n lands on a
      // decimal round-tie ~1 in 1e3 docs (caught by the sf0.1
      // self-check: 2 of 5000 docs off by exactly 1e-9 between
      // Spark's exact-binary HALF_UP and DuckDB's float-multiply
      // round), and a quotient tie cannot be pinned from either side.
      graft.text.Vocab.knSurprisal(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH $knLmSql,
         |d2 AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
         |  FROM documents
         |  WHERE len(regexp_split_to_array(text, '\\s+')) >= 2),
         |dp AS (SELECT doc_id,
         |    unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
         |    unnest([t[i + 1] FOR i IN range(1, len(t))]) AS w2 FROM d2),
         |per AS (
         |  SELECT dp.doc_id, -round(ln(p_kn), 9) AS c
         |  FROM dp JOIN lm ON lm.w1 = dp.w1 AND lm.w2 = dp.w2)
         |SELECT doc_id, ${dsumSql("c")} AS kn_total_surprisal,
         |  CAST(count(*) AS BIGINT) AS n_bigrams
         |FROM per GROUP BY 1""".stripMargin)),

    ("q147_hybrid_rrf", (s, d) => {
      // hybrid retrieval: BM25 keyword top-50 (q140's scorer) fused
      // with embedding-cosine top-50 (query = vector 0) by reciprocal
      // rank — scores from different families are incomparable, ranks
      // are, so RRF is the standard combiner. Both rankings and the
      // fusion replay in SQL: BM25's closed form, the pinned cosine
      // folds, 1/(60+rank) summed in exact decimal, top-10 by (rrf
      // desc, id). lists=2 marks docs surfaced by both families.
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val bm = graft.text.Vocab.bm25TopK(docs, "doc_id", "text",
          Seq("spark", "vector", "stream"), k = 50)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "rnk")
      val qv = emb.filter(col("vec_id") === 0)
        .select(Similarity.toDouble(col("embedding")).as("qv"))
      val vec = emb.filter(col("vec_id") =!= 0).crossJoin(qv)
        .select(col("vec_id").as("doc_id"),
          Similarity.cosine(Similarity.toDouble(col("embedding")), col("qv"))
            .as("sim"))
        .orderBy(col("sim").desc, col("doc_id")).limit(50)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))))
        .select("doc_id", "rnk")
      Similarity.rrfFuse(Seq(bm, vec), "doc_id")
    }, Some(s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
       |q AS (SELECT * FROM (VALUES ('spark'), ('vector'), ('stream'))
       |      AS t(token)),
       |dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df
       |        FROM tf JOIN q USING (token) GROUP BY 1),
       |per AS (
       |  SELECT tf.doc_id,
       |    round(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 9)
       |      * tf.tf * (1.2 + 1.0)
       |      / (tf.tf + 1.2 * ((1.0 - 0.75)
       |          + 0.75 * CAST(dl AS DOUBLE) * n_docs / total_dl)), 9) AS c
       |  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN st),
       |bms AS (SELECT doc_id, ${dsumSql("c")} AS score FROM per GROUP BY 1
       |        ORDER BY score DESC, doc_id LIMIT 50),
       |bmr AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bms),
       |elong0 AS (
       |  SELECT e.vec_id, CAST(t.i - 1 AS BIGINT) AS j,
       |    CAST(e.embedding[t.i] AS DOUBLE) AS val
       |  FROM embeddings e CROSS JOIN range(1, 65) t(i)),
       |nrm AS (
       |  SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(val * val ORDER BY j)), (a, b) -> a + b)) AS nv
       |  FROM elong0 GROUP BY vec_id),
       |qd AS (
       |  SELECT e.vec_id, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(e.val * q.val ORDER BY e.j)), (x, y) -> x + y) AS dot
       |  FROM elong0 e JOIN elong0 q ON q.vec_id = 0 AND q.j = e.j
       |  WHERE e.vec_id <> 0 GROUP BY 1),
       |sims AS (
       |  SELECT d.vec_id AS doc_id, d.dot / (nd.nv * nq.nv) AS sim
       |  FROM qd d JOIN nrm nd ON nd.vec_id = d.vec_id
       |  JOIN nrm nq ON nq.vec_id = 0
       |  ORDER BY sim DESC, doc_id LIMIT 50),
       |vr AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY sim DESC, doc_id) AS rnk FROM sims),
       |u AS (
       |  SELECT doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rnk) AS DECIMAL(30,15)) AS s
       |  FROM bmr
       |  UNION ALL
       |  SELECT doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rnk) AS DECIMAL(30,15))
       |  FROM vr)
       |SELECT doc_id, CAST(sum(s) AS DOUBLE) AS rrf,
       |  CAST(count(*) AS BIGINT) AS lists
       |FROM u GROUP BY 1
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    ("q140_bm25_topk", (s, d) =>
      // Okapi BM25 keyword retrieval (Lucene idf variant) for a fixed
      // 4-term query, one term deliberately absent from the corpus (it
      // must drop out identically on both engines). ln rounded at 9 dp,
      // each contribution rounded at 9 dp, per-doc sum in exact decimal
      // — the top-20 (score desc, id asc) is one hash compare.
      graft.text.Vocab.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "vector", "stream", "shuffle"), k = 20),
      Some(s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
         |q AS (SELECT * FROM (VALUES ('spark'), ('vector'), ('stream'),
         |                            ('shuffle')) AS t(token)),
         |dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |        FROM tf JOIN q USING (token) GROUP BY 1),
         |per AS (
         |  SELECT tf.doc_id,
         |    round(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 9)
         |      * tf.tf * (1.2 + 1.0)
         |      / (tf.tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * CAST(dl AS DOUBLE) * n_docs / total_dl)), 9) AS c
         |  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id, ${dsumSql("c")} AS score
         |FROM per GROUP BY 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    ("q113_bloom_decontaminate", (s, d) => {
      // q65's decontamination through a Bloom prefilter: most training
      // rows never join at all (one-row sketch broadcast), only
      // might_contain survivors hit the exact anti join. The output is
      // EXACTLY the anti-join result, so it shares q65's oracle shape.
      val docs = t(s, d, "documents").select("doc_id", "text")
      graft.text.CorpusClean.decontaminateBloom(
        docs, docs.filter(col("doc_id") % 10 === 0), "text",
        expectedEvalDocs = 100000L)
        .select("doc_id")
    }, Some("""WITH fp AS (SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS f
         |  FROM documents)
         |SELECT t.doc_id FROM fp t
         |ANTI JOIN (SELECT f FROM fp WHERE doc_id % 10 = 0) e ON t.f = e.f""".stripMargin)),

    ("q110_revenue_nucleus", (s, d) =>
      // per-day top-p product set: the smallest product prefix covering
      // 80% of the day's revenue. Decimal-exact running sums; one
      // shuffle on the day shared by both window passes
      graft.operators.Nucleus.topPPerGroup(
        t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderdate").as("event_date"),
            col("l_partkey").as("product_id"))
          .agg(dsum(col("l_extendedprice")).as("revenue")),
        Seq("event_date"), col("revenue"),
        Seq(col("revenue").desc, col("product_id").asc), p = 0.8),
      Some(s"""WITH per AS (
         |  SELECT o_orderdate AS event_date, l_partkey AS product_id,
         |    ${dsumSql("l_extendedprice")} AS revenue
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT event_date, product_id, revenue,
         |    sum(CAST(revenue AS DECIMAL(18,6))) OVER (PARTITION BY event_date)
         |      AS tot,
         |    sum(CAST(revenue AS DECIMAL(18,6))) OVER (PARTITION BY event_date
         |      ORDER BY revenue DESC, product_id ROWS UNBOUNDED PRECEDING)
         |      AS cum
         |  FROM per)
         |SELECT event_date, product_id, revenue FROM c
         |WHERE CAST(cum - CAST(revenue AS DECIMAL(18,6)) AS DOUBLE)
         |  < 0.8 * CAST(tot AS DOUBLE)""".stripMargin)),

    ("q111_weighted_sample", (s, d) =>
      // deterministic A-ES weighted sample: top-5 per event type by
      // exponential key -ln(u)/w, u from the portable id hash; keys
      // rounded to 9 dp (ln is the one non-IEEE-exact step)
      graft.operators.Sample.weightedSample(
        t(s, d, "events"), "event_id", "value", "event_type", k = 5)
        .select("event_type", "event_id", "value"),
      Some("""SELECT event_type, event_id, value FROM events
         |WHERE value > 0
         |QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY
         |  round(-ln((((((event_id % 100000007) * (2654435761 + 49979687)
         |               % 99999989) * 2246822519) % 1000000) + 0.5)
         |            / 1000000.0) / value, 9) ASC,
         |  event_id ASC) <= 5""".stripMargin)),

    ("q112_ngram_containment", (s, d) => {
      // quote detection on candidate pairs: one-sided 3-gram containment
      // |grams(A) ∩ grams(B)| / |grams(A)| (Jaccard scores embedded
      // quotes near zero; containment scores them near one)
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2")),
          Seq("id1"))
      graft.dedup.NearDup.containmentVerify(pairs, docs, "doc_id", "text", n = 3)
    }, Some("""WITH g AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(0, len(toks) - 2),
         |      i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS g
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g)
         |    AS containment
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin)),

    ("q114_unigram_surprisal", (s, d) =>
      // model-free perplexity proxy: TOTAL -ln p(token) under the
      // corpus's own unigram distribution (ln rounded to 9 dp per term,
      // per-doc sum in exact decimal). The total, not the mean — the
      // decimal-quantized total over a small integer count lands
      // exactly on 9 dp round-tie midpoints, where engines' round()
      // legitimately disagree (q150's twin construct was caught at
      // sf0.1); divide downstream. See Vocab.unigramSurprisal.
      graft.text.Vocab.unigramSurprisal(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |freq AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM tf),
         |per AS (
         |  SELECT tf.doc_id, tf.tf,
         |    tf.tf * round(ln(CAST(n_total AS DOUBLE) / n_tok), 9) AS c
         |  FROM tf JOIN freq USING (token) CROSS JOIN tot)
         |SELECT doc_id,
         |  ${dsumSql("c")} AS total_surprisal,
         |  CAST(sum(tf) AS BIGINT) AS n_tokens
         |FROM per GROUP BY doc_id""".stripMargin)),

    ("q115_tfidf_cosine", (s, d) => {
      // sparse TF-IDF cosine on the adjacent-pair list: the dot product
      // is a term-level equi-join (only SHARED terms meet), never a
      // dense vector — the formulation that survives a 10M-term vocab
      val docs = t(s, d, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2")),
          Seq("id1"))
      graft.text.Vocab.sparseTfidfCosine(pairs, docs, "doc_id", "text")
    }, Some(s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM documents),
         |w AS (
         |  SELECT doc_id, token,
         |    round(tf * ln(CAST(n_total AS DOUBLE) / df), 9) AS w
         |  FROM tf JOIN dfr USING (token) CROSS JOIN tot),
         |n AS (SELECT doc_id, ${dsumSql("w * w")} AS n2 FROM w GROUP BY 1),
         |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
         |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |d AS (
         |  SELECT p.id1, p.id2, ${dsumSql("wa.w * wb.w")} AS dot
         |  FROM p
         |  JOIN w wa ON wa.doc_id = p.id1
         |  JOIN w wb ON wb.doc_id = p.id2 AND wb.token = wa.token
         |  GROUP BY 1, 2)
         |SELECT d.id1, d.id2,
         |  round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 9) AS cosine
         |FROM d
         |JOIN n na ON na.doc_id = d.id1
         |JOIN n nb ON nb.doc_id = d.id2""".stripMargin)),

    ("q116_dim_standardize", (s, d) =>
      // per-dimension z-scoring of the embedding corpus, long format;
      // decimal-exact moments, so z needs no rounding (q82 precedent)
      Similarity.standardizeDims(t(s, d, "embeddings"), "vec_id", "embedding"),
      Some(s"""WITH x AS (
         |  SELECT vec_id, u.dim AS dim, CAST(embedding[u.dim] AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(dim)),
         |s AS (
         |  SELECT dim, ${dsumSql("x")} AS sm, ${dsumSql("x * x")} AS s2,
         |    count(*) AS n
         |  FROM x GROUP BY 1),
         |st AS (
         |  SELECT dim, sm / n AS mean, sqrt(s2 / n - (sm / n) * (sm / n)) AS std
         |  FROM s)
         |SELECT x.vec_id, x.dim, (x.x - mean) / std AS z
         |FROM x JOIN st USING (dim)""".stripMargin)),

    ("q191_pagerank_deep", (s, d) => {
      // convergence-grade PageRank: 6 power iterations, deep enough
      // that the edge table is pre-partitioned on src (the scale shape
      // the r10 verdict asked CORRECTNESS to gate — until now only the
      // shallow/off path was registered). Graph: part co-purchase
      // restricted to the first two lines of each order, so the edge
      // build stays cheap while the iteration depth dominates — the
      // thing this entry exercises. Oracle unrolls all 6 rounds
      // (identical per-round IEEE construction as q145's 2 rounds).
      val li = t(s, d, "lineitem").filter(col("l_linenumber") <= 2)
        .select("l_orderkey", "l_partkey")
      val e = li.select(col("l_orderkey").as("k"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey").as("k"),
          col("l_partkey").as("dst")), Seq("k"))
        .filter(col("src") =!= col("dst"))
      graft.operators.PageRank.pageRank(e, "src", "dst", iters = 6)
    }, Some(pageRankChainSql(6,
      """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_linenumber <= 2 AND b.l_linenumber <= 2"""
        .stripMargin))),

    ("q192_agg_sink_stream", (s, d) =>
      // the STREAMING face of q188, certified batch-equivalently: an
      // actual aggSink StreamingQuery consumes a staged changefeed in
      // three real micro-batches (files appear between processAllAvailable
      // fences, so batch boundaries are deterministic: inserts of the
      // %3==0 keys, inserts of the rest, then deletes of %5==0 and
      // +10-with-group-move updates of %5!=0&&%7==0), and the result
      // is the MAINTAINED TABLE read back from disk — the oracle is
      // the from-scratch GROUP BY over the final population, so the
      // compare certifies fold(fold(fold(∅,b1),b2),b3) == agg(final)
      // bit-exactly through the real sink (versioned write-then-rename
      // commit path included), not just the operator.
      Replay.withTempRoot("graft_q192_") { tmp =>
        val feed = s"$tmp/feed"
        val orders = t(s, d, "orders")
          .select(col("o_orderkey").as("k"),
            col("o_orderpriority").as("g"), col("o_totalprice").as("p"))
        val nullG = lit(null).cast("string")
        val nullP = lit(null).cast(orders.schema("p").dataType.sql)
        def ins(rows: DataFrame) = rows.select(
          lit("insert").as("change_type"), nullG.as("old_grp"),
          col("g").as("new_grp"), nullP.as("old_v"), col("p").as("new_v"))
        val b1 = ins(orders.filter(col("k") % 3 === 0))
        val b2 = ins(orders.filter(col("k") % 3 =!= 0))
        val b3 = orders.filter(col("k") % 5 === 0).select(
            lit("delete").as("change_type"), col("g").as("old_grp"),
            nullG.as("new_grp"), col("p").as("old_v"), nullP.as("new_v"))
          .unionByName(orders
            .filter(col("k") % 5 =!= 0 && col("k") % 7 === 0)
            .select(lit("update").as("change_type"), col("g").as("old_grp"),
              when(col("k") % 11 === 0, lit("1-URGENT")).otherwise(col("g"))
                .as("new_grp"),
              col("p").as("old_v"), (col("p") + 10).as("new_v")))
        Replay.stage(b1.coalesce(1), feed, 1)
        Replay.drive(s) {
          Streams.aggSink(Replay.source(s, feed), "grp", "v", s"$tmp/agg",
            s"$tmp/ckpt")
        }(() => Replay.stage(b2.coalesce(1), feed, 2),
          () => Replay.stage(b3.coalesce(1), feed, 3))
        Streams.currentSnapshot(s, s"$tmp/agg")
          .select(col("grp"),
            col("sum_value").cast("double").as("sum_value"), col("n_rows"))
          .localCheckpoint(true)
      }, Some("""WITH cur AS (
       |  SELECT CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 11 = 0
       |      THEN '1-URGENT' ELSE o_orderpriority END AS grp,
       |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
       |      ELSE o_totalprice END AS v
       |  FROM orders WHERE o_orderkey % 5 <> 0)
       |SELECT grp,
       |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       |  CAST(count(*) AS BIGINT) AS n_rows
       |FROM cur GROUP BY 1""".stripMargin)),

    ("q193_gopher_quality", (s, d) =>
      // Gopher-rule structural quality gate: one codegen'd projection
      // pass (token count, mean word length, alphabetic-word
      // fraction, stopword evidence), every ratio an exact integer
      // ppm so the compare needs no rounding protocol. Thresholds
      // sized to this corpus (docs are 10-500 tokens of lowercase
      // words, so length >= 10 and the standard 3..10-char mean
      // word length separate real rows).
      graft.text.GopherRules.gopherSignals(t(s, d, "documents"),
        "doc_id", "text", stopwords, minTokens = 10),
      Some(s"""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
         |  FROM documents),
         |sg AS (SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(list_reduce(list_prepend(0, list_transform(t,
         |      x -> len(x))), (a, b) -> a + b) AS BIGINT) AS chars,
         |  CAST(len(list_filter(t,
         |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
         |  CAST(len(list_filter(t, x -> list_contains(
         |      [${stopwords.map("'" + _ + "'").mkString(", ")}], x)))
         |    AS BIGINT) AS stop_hits
         | FROM d)
         |SELECT doc_id, n_tokens,
         |  chars * 1000000 // n_tokens AS mean_word_len_ppm,
         |  alpha * 1000000 // n_tokens AS alpha_word_ppm,
         |  stop_hits,
         |  (n_tokens BETWEEN 10 AND 100000
         |    AND chars * 1000000 // n_tokens
         |      BETWEEN 3000000 AND 10000000
         |    AND alpha * 1000000 // n_tokens >= 800000
         |    AND stop_hits >= 2) AS keep
         |FROM sg""".stripMargin)),

    ("q194_repetition_filter", (s, d) =>
      // Gopher-rule repetition gate: most-frequent-bigram share and
      // duplicated-trigram share per document — doc-keyed n-gram
      // aggregates (map-side combinable, no windows), exact ppm.
      // This 40-word synthetic vocabulary repeats heavily, so the
      // signals take nontrivial values on every row.
      graft.text.GopherRules.repetitionSignals(t(s, d, "documents"),
        "doc_id", "text"),
      Some("""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
         |  FROM documents WHERE len(regexp_split_to_array(text, '\s+')) >= 3),
         |bi AS (
         |  SELECT doc_id, unnest([t[i] || ' ' || t[i + 1]
         |    FOR i IN range(1, len(t))]) AS g FROM d),
         |bc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         |  FROM bi GROUP BY 1, 2),
         |bt AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS btot
         |  FROM bc GROUP BY 1),
         |tri AS (
         |  SELECT doc_id, unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
         |    FOR i IN range(1, len(t) - 1)]) AS g FROM d),
         |tc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         |  FROM tri GROUP BY 1, 2),
         |tt AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup,
         |    CAST(sum(c) AS BIGINT) AS ttot
         |  FROM tc GROUP BY 1)
         |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  mx * 1000000 // btot AS top_bigram_ppm,
         |  dup * 1000000 // ttot AS dup_trigram_ppm,
         |  (mx * 1000000 // btot <= 200000
         |    AND dup * 1000000 // ttot <= 300000) AS keep
         |FROM d JOIN bt USING (doc_id) JOIN tt USING (doc_id)"""
        .stripMargin)),

    ("q196_cdc_agg_loop", (s, d) =>
      // the FULL streaming loop certified by one hash compare:
      // snapshot drops → cdcSink (diff feed extraction, versioned
      // snapshot store) → feed relay → aggSink (incremental
      // materialized view). Three snapshot versions of a keyed orders
      // subset evolve through inserts, price-bump updates, deletes,
      // and group-moving updates; the maintained aggregate read back
      // from disk must equal the from-scratch GROUP BY over the FINAL
      // snapshot — certifying diff extraction AND fold composition
      // end-to-end through both sinks' versioned commit paths.
      Replay.withTempRoot("graft_q196_") { tmp =>
        val snapDir = s"$tmp/snaps"; val relayDir = s"$tmp/relay"
        new java.io.File(relayDir).mkdirs()
        val orders = t(s, d, "orders")
          .select(col("o_orderkey").as("k"),
            col("o_orderpriority").as("g"), col("o_totalprice").as("p"))
        val s1 = orders.filter(col("k") % 3 === 0)
        val s2 = orders.filter(col("k") % 3 < 2)
          .withColumn("p",
            when(col("k") % 7 === 0, col("p") + 10).otherwise(col("p")))
        val s3 = s2.filter(col("k") % 5 =!= 0)
          .withColumn("g",
            when(col("k") % 11 === 0, lit("1-URGENT")).otherwise(col("g")))
        // ship each committed feed batch into the relay dir the agg
        // stream watches (flat files, ordered by the fences below)
        def relay(batch: Int): Unit =
          new java.io.File(s"$tmp/feed/batch=$batch").listFiles()
            .filter(_.getName.endsWith(".parquet")).zipWithIndex
            .foreach { case (f, i) =>
              java.nio.file.Files.copy(f.toPath,
                java.nio.file.Paths.get(s"$relayDir/b${batch}_$i.parquet"))
            }
        Replay.stage(s1.coalesce(1), snapDir, 1)
        Replay.withStatePartitions(s) {
          val cdc = Streams.cdcSink(Replay.source(s, snapDir), Seq("k"),
            s"$tmp/snapstore", s"$tmp/feed", s"$tmp/ckpt_cdc")
          // two chained queries, both stopped on every exit path
          var agg: org.apache.spark.sql.streaming.StreamingQuery = null
          try {
            cdc.processAllAvailable()
            relay(0)
            agg = Streams.aggSink(Replay.source(s, relayDir), "g", "p",
              s"$tmp/agg", s"$tmp/ckpt_agg")
            agg.processAllAvailable()
            Replay.stage(s2.coalesce(1), snapDir, 2); cdc.processAllAvailable()
            relay(1); agg.processAllAvailable()
            Replay.stage(s3.coalesce(1), snapDir, 3); cdc.processAllAvailable()
            relay(2); agg.processAllAvailable()
          } finally try cdc.stop() finally if (agg != null) agg.stop()
        }
        Streams.currentSnapshot(s, s"$tmp/agg")
          .select(col("g"),
            col("sum_value").cast("double").as("sum_value"), col("n_rows"))
          .localCheckpoint(true)
      }, Some("""WITH cur AS (
       |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN '1-URGENT'
       |      ELSE o_orderpriority END AS g,
       |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
       |      ELSE o_totalprice END AS v
       |  FROM orders WHERE o_orderkey % 3 < 2 AND o_orderkey % 5 <> 0)
       |SELECT g,
       |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       |  CAST(count(*) AS BIGINT) AS n_rows
       |FROM cur GROUP BY 1""".stripMargin)),

    ("q197_transition_matrix", (s, d) =>
      // first-order Markov hops over per-user event streams: the
      // every-path statistic next to q186's one-path funnel. User-key
      // window (never global), (src,dst)-grid aggregate, exact ppm
      // row probabilities.
      graft.operators.Sessionize.transitionMatrix(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq(col("event_id").asc)),
      Some("""WITH seq AS (
         |  SELECT event_type AS src_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS dst_type
         |  FROM events),
         |pc AS (
         |  SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n
         |  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT src_type, CAST(sum(n) AS BIGINT) AS t
         |  FROM pc GROUP BY 1)
         |SELECT src_type, dst_type, n, n * 1000000 // t AS prob_ppm
         |FROM pc JOIN tot USING (src_type)""".stripMargin)),

    ("q231_bradley_terry", (s, d) => {
      // preference-strength fitting over mined pairwise outcomes: every
      // same-order part pair is a "comparison" won by the larger
      // quantity (a deterministic preference proxy with real repeats
      // and intransitivity), 3 MM rounds from uniform. The oracle
      // replays all 3 rounds with exact decimal accumulation — see
      // BradleyTerry.scala for the convergence + determinism contract.
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
      val a = li.select(col("l_orderkey").as("k"),
        col("l_partkey").as("wp"), col("l_quantity").as("wq"))
      val b = li.select(col("l_orderkey").as("k"),
        col("l_partkey").as("lp"), col("l_quantity").as("lq"))
      val comps = a.join(b, Seq("k"))
        .filter(col("wp") =!= col("lp") && col("wq") > col("lq"))
        .select(col("wp").as("winner"), col("lp").as("loser"))
      graft.operators.BradleyTerry.fit(comps, "winner", "loser", iters = 3)
    }, Some(btChainSql(3,
      """SELECT a.l_partkey AS winner, b.l_partkey AS loser
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey
        |   AND a.l_quantity > b.l_quantity""".stripMargin))),

    ("q232_cohen_kappa", (s, d) => {
      // annotation QA: do two independent quality raters (char-length
      // vote vs token-count vote — correlated but not identical rules)
      // agree beyond chance? One contingency-grid pass; everything
      // after is category-grid-sized. Exact-integer marginal products
      // through DECIMAL(19,0) pairs. (A langId-vs-label pairing was
      // measured degenerate here: the synthetic corpus is all-English
      // vocabulary, making the predictor constant and kappa exactly 0.)
      val base = t(s, d, "documents").select(
        when(col("n_chars") >= 300, "keep").otherwise("drop").as("ra"),
        when(TextOps.tokenCount(col("text")) >= 60, "keep")
          .otherwise("drop").as("rb"))
      graft.operators.Agreement.cohenKappa(base, "ra", "rb")
    }, Some(
      s"""WITH pairs AS (
         |  SELECT CASE WHEN n_chars >= 300 THEN 'keep' ELSE 'drop' END AS ca,
         |    CASE WHEN len(regexp_split_to_array(text, '\\s+')) >= 60
         |      THEN 'keep' ELSE 'drop' END AS cb
         |  FROM documents),
         |grid AS (
         |  SELECT ca, cb, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pairs GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN ca = cb THEN cnt ELSE 0 END) AS BIGINT) AS agree
         |  FROM grid),
         |ma AS (SELECT ca, CAST(sum(cnt) AS BIGINT) AS na FROM grid GROUP BY 1),
         |mb AS (SELECT cb, CAST(sum(cnt) AS BIGINT) AS nb FROM grid GROUP BY 1),
         |prod AS (SELECT sum(CAST(na AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))) AS sp
         |  FROM ma JOIN mb ON ma.ca = mb.cb)
         |SELECT n,
         |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 9) AS po,
         |  round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE), 9) AS pe,
         |  round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
         |      - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
         |    / (1.0 - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS kappa
         |FROM tot CROSS JOIN prod""".stripMargin)),

    ("q233_fleiss_kappa", (s, d) => {
      // a 3-rule rater panel (length / token-count / stopword-presence
      // quality votes) scored for panel-level agreement: the Fleiss
      // generalization q232's two-rater kappa can't express.
      val docs = t(s, d, "documents").select("doc_id", "text", "n_chars")
      val r1 = docs.select(col("doc_id").as("item"),
        when(col("n_chars") >= 300, "keep").otherwise("drop").as("cat"))
      val r2 = docs.select(col("doc_id").as("item"),
        when(TextOps.tokenCount(col("text")) >= 60, "keep")
          .otherwise("drop").as("cat"))
      val r3 = docs.select(col("doc_id").as("item"),
        when(col("text").contains("the"), "keep").otherwise("drop").as("cat"))
      graft.operators.Agreement.fleissKappa(
        r1.union(r2).union(r3), "item", "cat", m = 3)
    }, Some(
      """WITH ratings AS (
        |  SELECT doc_id AS item,
        |    CASE WHEN n_chars >= 300 THEN 'keep' ELSE 'drop' END AS cat
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN len(regexp_split_to_array(text, '\s+')) >= 60
        |      THEN 'keep' ELSE 'drop' END
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN text LIKE '%the%' THEN 'keep' ELSE 'drop' END
        |  FROM documents),
        |ic AS (SELECT item, cat, CAST(count(*) AS BIGINT) AS nik
        |  FROM ratings GROUP BY 1, 2),
        |per_item AS (SELECT item, CAST(sum(nik) AS BIGINT) AS mi,
        |    CAST(sum(nik * nik) AS BIGINT) AS sq
        |  FROM ic GROUP BY 1),
        |complete AS (SELECT * FROM per_item WHERE mi = 3),
        |ia AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(sq) AS BIGINT) AS ssq FROM complete),
        |pe AS (SELECT CAST(sum(CAST(
        |      (CAST(nk AS DOUBLE) / CAST(ni2 * 3 AS DOUBLE))
        |      * (CAST(nk AS DOUBLE) / CAST(ni2 * 3 AS DOUBLE))
        |    AS DECIMAL(30,15))) AS DOUBLE) AS pe
        |  FROM (SELECT ic.cat, CAST(sum(ic.nik) AS BIGINT) AS nk
        |    FROM ic JOIN complete c ON c.item = ic.item GROUP BY 1)
        |  CROSS JOIN (SELECT n_items AS ni2 FROM ia))
        |SELECT n_items,
        |  round(CAST(ssq - n_items * 3 AS DOUBLE)
        |    / CAST(n_items * 3 * 2 AS DOUBLE), 9) AS p_bar,
        |  round(pe, 9) AS pe_bar,
        |  round((CAST(ssq - n_items * 3 AS DOUBLE)
        |      / CAST(n_items * 3 * 2 AS DOUBLE) - pe) / (1.0 - pe), 9) AS kappa
        |FROM ia CROSS JOIN pe""".stripMargin)),

    ("q234_hard_negatives", (s, d) => {
      // contrastive-training data prep: per anchor (a batch sample,
      // every 17th vector), the 5 nearest vectors with a DIFFERENT
      // label — brute yardstick, q45's ranking discipline.
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 17 === 0),
        "vec_id", "embedding", "label", k = 5)
    }, Some("""SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       | row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
       |     e.vec_id) AS rnk
       |FROM embeddings e
       |JOIN (SELECT * FROM embeddings WHERE vec_id % 17 = 0) q
       |  ON e.vec_id <> q.vec_id AND e.label <> q.label
       |QUALIFY rnk <= 5""".stripMargin)),

    ("q235_hard_negatives_lsh", (s, d) => {
      // q234's scale shape: SRP-LSH bucket candidates (portable planes,
      // q136's replayable-plane discipline), exact cosine rank over
      // different-label candidates only. Corpus-side buckets are
      // CAPPED (the q54 contract — mirrored in the oracle's `capped`
      // CTE) and the anchor side carries NO broadcast hint: anchors
      // here are corpus-proportional (every 17th vector), so AQE sizes
      // that join instead of a fixed driver-side broadcast.
      val emb = t(s, d, "embeddings")
      Similarity.hardNegativesLsh(emb,
        emb.filter(col("vec_id") % 17 === 0),
        "vec_id", "embedding", "label", k = 5,
        bits = 8, dim = 64, tables = 8, maxBucketSize = 10000)
    }, Some("""WITH planes AS (
       |  SELECT tt.t, bb.b, jj.j,
       |    CASE WHEN (((tt.t*8 + bb.b)*64 + jj.j) % 100000007)
       |        * 2654435768 % 99999989 * 2246822519 % 1000000 < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(8) tt(t), range(8) bb(b), range(64) jj(j)),
       |proj AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w ORDER BY p.j)),
       |      (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t, p.b),
       |sig AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id, t),
       |capped AS (
       |  SELECT * FROM sig
       |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM capped c JOIN sig q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE q.vec_id % 17 = 0 AND c.vec_id <> q.vec_id),
       |lab AS (
       |  SELECT cand.query_id, cand.neighbor_id
       |  FROM cand
       |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  WHERE e.label <> qe.label)
       |SELECT lab.query_id, lab.neighbor_id,
       |  row_number() OVER (PARTITION BY lab.query_id
       |    ORDER BY list_cosine_similarity(e.embedding, qe.embedding) DESC,
       |      lab.neighbor_id) AS rnk
       |FROM lab
       |JOIN embeddings e ON e.vec_id = lab.neighbor_id
       |JOIN embeddings qe ON qe.vec_id = lab.query_id
       |QUALIFY rnk <= 5""".stripMargin)),

    ("q236_html_extract", (s, d) => {
      // web-text extraction: wrap each document in a deterministic HTML
      // shell (title, style, script, link-dense nav, footer, an inline
      // entity) and run the production extractor — title out of head,
      // boilerplate blocks dropped, tags stripped, entities decoded,
      // link-density signal computed on the raw page. Clean text =
      // the original body plus the inline content-anchor's text
      // ("read more" is body content; nav/footer links are not).
      val h = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p { color: red; }</style></head><body>" +
          "<script>var x = 1;</script><nav><a href=\"/\">home</a> " +
          "<a href=\"/t\">tags &amp; topics</a></nav><p>"),
        col("text"),
        lit("</p><a href=\"/more\">read more</a>" +
          "<footer>site footer</footer></body></html>"))
      t(s, d, "documents").select(col("doc_id"), h.as("html"))
        .select(col("doc_id"),
          graft.text.Html.extractTitle(col("html")).as("title"),
          graft.text.Html.extractText(col("html")).as("clean_text"),
          graft.text.Html.linkCount(col("html")).as("n_links"),
          round(graft.text.Html.linkDensity(col("html")), 9)
            .as("link_density"))
        .withColumn("keep", col("link_density") <= 0.3)
    }, Some {
      val clean = htmlCleanSql("html")
      val page = htmlPageSql("html")
      s"""WITH h0 AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         |  || '</title><style>p { color: red; }</style></head><body>'
         |  || '<script>var x = 1;</script><nav><a href="/">home</a> '
         |  || '<a href="/t">tags &amp; topics</a></nav><p>' || text
         |  || '</p><a href="/more">read more</a>'
         |  || '<footer>site footer</footer></body></html>' AS html
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
         |  $clean AS clean_text,
         |  CAST(len(regexp_extract_all(html, '<a[\\s>]')) AS BIGINT)
         |    AS n_links,
         |  round(CAST(length(array_to_string(
         |      regexp_extract_all(html, '(?s)<a[^>]*>([^<]*)</a>', 1), ' '))
         |      AS DOUBLE)
         |    / CAST(greatest(length($page), 1) AS DOUBLE), 9)
         |    AS link_density,
         |  round(CAST(length(array_to_string(
         |      regexp_extract_all(html, '(?s)<a[^>]*>([^<]*)</a>', 1), ' '))
         |      AS DOUBLE)
         |    / CAST(greatest(length($page), 1) AS DOUBLE), 9) <= 0.3
         |    AS keep
         |FROM h0""".stripMargin
    }),

    ("q237_url_canonicalize", (s, d) => {
      // crawl-dedup key extraction: each document URL carries one of
      // three dirty spellings (tracking params + fragment, reordered
      // params + click id, bare trailing slash); every rule of the
      // canonicalizer fires across the corpus. The COLLAPSE payoff
      // (three spellings of one article → one key) is certified E2E in
      // q242; host/domain come along for the q202 domain rollups.
      // TLDs rotate through co.uk / com.au / plain com so the
      // registrable-domain suffix table fires: a `*.example.co.uk`
      // host must key as `example.co.uk`, never collapse to `co.uk`.
      val raw = concat(lit("HTTP://WWW."), col("source"),
        when(col("doc_id") % 4 === 0, ".Example.CO.UK:80/Articles/")
          .when(col("doc_id") % 4 === 1, ".Example.COM.AU:80/Articles/")
          .otherwise(".Example.COM:80/Articles/"),
        col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, "/?utm_source=feed&b=2&a=1#frag")
          .when(col("doc_id") % 3 === 1, "?a=1&ref=x&b=2")
          .otherwise("/"))
      t(s, d, "documents").select(col("doc_id"), raw.as("url"))
        .select(col("doc_id"), col("url"),
          graft.text.Urls.canonicalize(col("url")).as("canonical"),
          graft.text.Urls.host(col("url")).as("host"),
          graft.text.Urls.registrableDomain(col("url")).as("domain"))
    }, Some {
      val p = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)" +
        "(?:\\?([^#]*))?(?:#.*)?$"
      s"""WITH u AS (SELECT doc_id,
         |  'HTTP://WWW.' || source ||
         |  CASE WHEN doc_id % 4 = 0 THEN '.Example.CO.UK:80/Articles/'
         |       WHEN doc_id % 4 = 1 THEN '.Example.COM.AU:80/Articles/'
         |       ELSE '.Example.COM:80/Articles/' END
         |  || CAST(doc_id AS VARCHAR) ||
         |  CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&b=2&a=1#frag'
         |       WHEN doc_id % 3 = 1 THEN '?a=1&ref=x&b=2'
         |       ELSE '/' END AS url
         |  FROM documents),
         |g AS (SELECT doc_id, url,
         |  lower(regexp_extract(url, '$p', 1)) AS sch,
         |  lower(regexp_extract(url, '$p', 2)) AS rawhost,
         |  regexp_extract(url, '$p', 3) AS rawpath,
         |  regexp_extract(url, '$p', 4) AS rawq
         |  FROM u),
         |h AS (SELECT *, regexp_replace(
         |    CASE WHEN sch = 'http' THEN regexp_replace(rawhost, ':80$$', '')
         |         WHEN sch = 'https' THEN regexp_replace(rawhost, ':443$$', '')
         |         ELSE rawhost END, '^www\\.', '') AS hst
         |  FROM g),
         |q AS (SELECT *,
         |  CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
         |       ELSE regexp_replace(rawpath, '/+$$', '') END AS pth,
         |  list_sort(list_filter(string_split(rawq, '&'), x ->
         |    x <> '' AND NOT starts_with(x, 'utm_')
         |    AND split_part(x, '=', 1)
         |      NOT IN ('gclid', 'fbclid', 'msclkid', 'ref'))) AS prm
         |  FROM h)
         |SELECT doc_id, url,
         |  sch || '://' || hst || pth ||
         |    CASE WHEN len(prm) > 0 THEN '?' || array_to_string(prm, '&')
         |         ELSE '' END AS canonical,
         |  hst AS host,
         |  CASE WHEN regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1) IN
         |      (${graft.text.Urls.MultiLabelSuffixes
                  .map("'" + _ + "'").mkString(", ")})
         |    AND regexp_extract(hst, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) <> ''
         |    THEN regexp_extract(hst, '([^.]+\\.[^.]+\\.[^.]+)$$', 1)
         |    ELSE regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1) END AS domain
         |FROM q""".stripMargin
    }),

    ("q238_decayed_value", (s, d) =>
      // recency-weighted user activity: value halves every 7 days from
      // the corpus' max event date. Weights are exact reciprocal powers
      // of two (integer shift, never libm pow), products exact-summed
      // in decimal — see Decay.scala for the determinism contract.
      graft.operators.Decay.halfLifeAgg(t(s, d, "events"),
        "user_id", "ts", "value", halfLifeDays = 7),
      Some("""WITH anchor AS (
         |  SELECT max(CAST(ts AS DATE)) AS as_of FROM events),
         |w AS (SELECT user_id, value,
         |    greatest(date_diff('day', CAST(ts AS DATE), as_of), 0) // 7 AS k
         |  FROM events CROSS JOIN anchor)
         |SELECT user_id,
         |  CAST(sum(CAST(value * (1.0 / CAST((CAST(1 AS BIGINT)
         |      << least(k, 62)) AS DOUBLE)) AS DECIMAL(30,15)))
         |    AS DOUBLE) AS decayed_value,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM w GROUP BY 1""".stripMargin)),

    ("q239_trimmed_mean", (s, d) =>
      // outlier-robust per-event-type center: 10% trimmed off each end
      // (exact integer ppm trim counts, distributed grouped ranks —
      // never an n*0.1 double ceil or a per-type global window)
      graft.operators.Quality.trimmedMeanGrouped(
        t(s, d, "events").select("event_type", "event_id", "value"),
        "event_type", "value", trimPpm = 100000L,
        tiebreaks = Seq("event_id")),
      Some(s"""WITH r AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value ASC, event_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
         |  ${dsumSql("value")} / count(*) AS trimmed_mean
         |FROM r
         |WHERE rn > n * 100000 // 1000000
         |  AND rn <= n - n * 100000 // 1000000
         |GROUP BY 1""".stripMargin)),

    ("q240_lexical_stats", (s, d) =>
      // gibberish/template detection signals: word-entropy (nats,
      // per-term 9dp-rounded ln, decimal-summed) and exact-ppm
      // type/token ratio per document
      TextOps.lexicalStats(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH $lexStatsSql
         |SELECT doc_id, n_tokens, n_types, ttr_ppm, entropy
         |FROM lexstats""".stripMargin)),

    ("q241_activity_gini", (s, d) =>
      // corpus-balance diagnostic: inequality of event mass across
      // users. Exact-integer rank formula through decimal products;
      // the only double op is the closing division.
      graft.operators.Quality.gini(
        t(s, d, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("v")),
        "v", tiebreaks = Seq("user_id")),
      Some("""WITH c AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS v
         |  FROM events GROUP BY 1),
         |r AS (SELECT user_id, v,
         |    row_number() OVER (ORDER BY v ASC, user_id ASC) AS rn
         |  FROM c),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS total FROM c)
         |SELECT n, total,
         |  round(CAST(sum(CAST(2 * rn - n - 1 AS DECIMAL(19,0))
         |      * CAST(v AS DECIMAL(19,0))) AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 9) AS gini
         |FROM r CROSS JOIN t
         |GROUP BY 1, 2""".stripMargin)),

    ("q242_webcorpus_build", (s, d) => {
      // E2E web-corpus build over this session's stages, each already
      // oracled in isolation (q236/q237/q240): HTML extraction →
      // canonical-URL crawl dedup (every article fetched under THREE
      // raw spellings; keep the smallest doc_id) → link-density +
      // word-entropy quality gate. One hash compare certifies the
      // composition, the q126/q182 discipline.
      val docs = t(s, d, "documents")
      val h = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p { color: red; }</style></head><body>" +
          "<script>var x = 1;</script><nav><a href=\"/\">home</a> " +
          "<a href=\"/t\">tags &amp; topics</a></nav><p>"),
        col("text"),
        lit("</p><a href=\"/more\">read more</a>" +
          "<footer>site footer</footer></body></html>"))
      val u = concat(lit("HTTP://WWW.Corpus.Example.COM:80/articles/"),
        (col("doc_id") / 3).cast("long").cast("string"),
        when(col("doc_id") % 3 === 0, "/?utm_source=feed&b=2&a=1#frag")
          .when(col("doc_id") % 3 === 1, "?a=1&ref=x&b=2")
          .otherwise("/?b=2&a=1&utm_campaign=z"))
      // staged is read twice (dedup groupBy + join) and survivors
      // twice (entropy + final join): both persisted so the regex
      // extraction chain runs ONCE over the corpus — unpersisted, the
      // plan re-scans the parquet and re-extracts four times
      val staged = docs.select(col("doc_id"), h.as("html"), u.as("url"))
        .select(col("doc_id"),
          graft.text.Html.extractText(col("html")).as("clean_text"),
          round(graft.text.Html.linkDensity(col("html")), 9).as("ld"),
          graft.text.Urls.canonicalize(col("url")).as("canonical"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val survivors = staged.join(
          staged.groupBy("canonical").agg(min("doc_id").as("doc_id")),
          Seq("canonical", "doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lex = TextOps.lexicalStats(
        survivors.select("doc_id", "clean_text"), "doc_id", "clean_text")
      survivors.join(lex, Seq("doc_id"))
        .filter(col("ld") <= 0.3 && col("entropy") >= 2.9)
        .select("doc_id", "canonical", "n_tokens", "entropy")
    }, Some {
      val clean = htmlCleanSql("html")
      val page = htmlPageSql("html")
      val p = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)" +
        "(?:\\?([^#]*))?(?:#.*)?$"
      s"""WITH base AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         |  || '</title><style>p { color: red; }</style></head><body>'
         |  || '<script>var x = 1;</script><nav><a href="/">home</a> '
         |  || '<a href="/t">tags &amp; topics</a></nav><p>' || text
         |  || '</p><a href="/more">read more</a>'
         |  || '<footer>site footer</footer></body></html>' AS html,
         |  'HTTP://WWW.Corpus.Example.COM:80/articles/'
         |  || CAST(doc_id // 3 AS VARCHAR) ||
         |  CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&b=2&a=1#frag'
         |       WHEN doc_id % 3 = 1 THEN '?a=1&ref=x&b=2'
         |       ELSE '/?b=2&a=1&utm_campaign=z' END AS url
         |  FROM documents),
         |g AS (SELECT doc_id,
         |  $clean AS clean_text,
         |  round(CAST(length(array_to_string(
         |      regexp_extract_all(html, '(?s)<a[^>]*>([^<]*)</a>', 1), ' '))
         |      AS DOUBLE)
         |    / CAST(greatest(length($page), 1) AS DOUBLE), 9) AS ld,
         |  lower(regexp_extract(url, '$p', 1)) AS sch,
         |  lower(regexp_extract(url, '$p', 2)) AS rawhost,
         |  regexp_extract(url, '$p', 3) AS rawpath,
         |  regexp_extract(url, '$p', 4) AS rawq
         |  FROM base),
         |cn AS (SELECT doc_id, clean_text, ld,
         |  sch || '://' ||
         |  regexp_replace(
         |    CASE WHEN sch = 'http' THEN regexp_replace(rawhost, ':80$$', '')
         |         WHEN sch = 'https' THEN regexp_replace(rawhost, ':443$$', '')
         |         ELSE rawhost END, '^www\\.', '') ||
         |  CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
         |       ELSE regexp_replace(rawpath, '/+$$', '') END ||
         |  CASE WHEN len(list_filter(string_split(rawq, '&'), x ->
         |      x <> '' AND NOT starts_with(x, 'utm_')
         |      AND split_part(x, '=', 1)
         |        NOT IN ('gclid', 'fbclid', 'msclkid', 'ref'))) > 0
         |    THEN '?' || array_to_string(list_sort(list_filter(
         |      string_split(rawq, '&'), x ->
         |      x <> '' AND NOT starts_with(x, 'utm_')
         |      AND split_part(x, '=', 1)
         |        NOT IN ('gclid', 'fbclid', 'msclkid', 'ref'))), '&')
         |    ELSE '' END AS canonical
         |  FROM g),
         |surv AS (SELECT cn.* FROM cn
         |  JOIN (SELECT canonical, min(doc_id) AS doc_id
         |        FROM cn GROUP BY 1) k
         |    ON k.canonical = cn.canonical AND k.doc_id = cn.doc_id),
         |tok AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(clean_text, '\\s+')) AS w
         |  FROM surv),
         |cw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens
         |  FROM cw GROUP BY 1),
         |lex AS (SELECT cw.doc_id, n_tokens,
         |    round(CAST(sum(CAST(
         |        (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |        * round(ln(CAST(n_tokens AS DOUBLE) / CAST(c AS DOUBLE)), 9)
         |      AS DECIMAL(30,15))) AS DOUBLE), 9) AS entropy
         |  FROM cw JOIN tot USING (doc_id) GROUP BY 1, 2)
         |SELECT surv.doc_id, canonical, n_tokens, entropy
         |FROM surv JOIN lex ON lex.doc_id = surv.doc_id
         |WHERE ld <= 0.3 AND entropy >= 2.9""".stripMargin
    }),

    ("q243_embedding_diversity", (s, d) =>
      // mode-collapse audit: exact mean pairwise dot over ALL pairs in
      // one linear pass (sum-vector identity — no pair materializes);
      // for this unit-norm corpus it reads as mean pairwise cosine
      Similarity.corpusDiversity(t(s, d, "embeddings"), "embedding"),
      Some("""WITH xs AS (
         |  SELECT i AS d, CAST(embedding[i + 1] AS DOUBLE) AS x
         |  FROM embeddings, range(0, 64) t(i)),
         |pd AS (SELECT d,
         |    CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) AS sd,
         |    sum(CAST(x * x AS DECIMAL(30,15))) AS sq
         |  FROM xs GROUP BY 1),
         |agg AS (SELECT
         |    CAST(sum(CAST(sd * sd AS DECIMAL(30,15))) AS DOUBLE) AS ssq,
         |    CAST(sum(sq) AS DOUBLE) AS sx2
         |  FROM pd),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
         |SELECT n, round(sx2 / CAST(n AS DOUBLE), 9) AS mean_norm_sq,
         |  round((ssq - sx2)
         |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 9)
         |    AS mean_pairwise_dot
         |FROM agg CROSS JOIN n""".stripMargin)),

    ("q244_robust_outliers", (s, d) =>
      // median/MAD modified z-score per event type: outliers cannot
      // inflate their own baseline the way q177's mean/sigma can.
      // Exact PERCENTILE_DISC medians (ceil(n/2), event_id tiebreak)
      // via the distributed grouped-quantile machinery.
      graft.operators.Quality.robustOutliers(
        t(s, d, "events").select("event_type", "event_id", "value"),
        "event_type", "event_id", "value", threshold = 3.5),
      Some("""WITH med AS (
         |  SELECT event_type, value AS med FROM (
         |    SELECT event_type, value,
         |      row_number() OVER (PARTITION BY event_type
         |        ORDER BY value ASC, event_id ASC) AS rn,
         |      count(*) OVER (PARTITION BY event_type) AS n
         |    FROM events)
         |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
         |dev AS (
         |  SELECT e.event_type, e.event_id, e.value, m.med,
         |    abs(e.value - m.med) AS dv
         |  FROM events e JOIN med m USING (event_type)),
         |mad AS (
         |  SELECT event_type, dv AS mad FROM (
         |    SELECT event_type, dv,
         |      row_number() OVER (PARTITION BY event_type
         |        ORDER BY dv ASC, event_id ASC) AS rn,
         |      count(*) OVER (PARTITION BY event_type) AS n
         |    FROM dev)
         |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
         |SELECT d.event_type, d.event_id, d.value, d.med, a.mad,
         |  0.6745 * (d.value - d.med) / a.mad AS mz
         |FROM dev d JOIN mad a USING (event_type)
         |WHERE a.mad > 0 AND abs(0.6745 * (d.value - d.med) / a.mad) > 3.5"""
        .stripMargin)),

    ("q245_overlap_report", (s, d) => {
      // contamination REPORT: per train doc, the exact-ppm share of
      // its distinct 3-gram shingles occurring anywhere in the eval
      // split (every 20th doc) — graded partial contamination, the
      // companion to q65/q106's binary drops.
      val docs = t(s, d, "documents").select("doc_id", "text")
      graft.text.CorpusClean.overlapReport(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 3)
    }, Some("""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |     FOR i IN range(1, len(t) - 1)])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
       |agg AS (
       |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_matched
       |  FROM (SELECT * FROM sh WHERE doc_id % 20 <> 0) d
       |  LEFT JOIN ev ON ev.s = d.s
       |  GROUP BY 1)
       |SELECT doc_id, n_shingles, n_matched,
       |  n_matched * 1000000 // n_shingles AS overlap_ppm
       |FROM agg""".stripMargin)),

    ("q247_data_card", (s, d) => {
      // the one-row corpus data card shipped next to a training set:
      // volume, language spread, exact-dup mass, mean lexical entropy
      // (decimal-exact mean of per-doc 9dp values), and the Gini of
      // doc mass across sources — five families composed under one
      // hash compare. Every aggregate is map-side-combinable; the
      // card assembles by 1-row cross joins.
      val docs = t(s, d, "documents")
      val basic = docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
      val lex = TextOps.lexicalStats(docs, "doc_id", "text")
        .agg(sum("n_tokens").as("n_tokens"),
          graft.Exprs.davg(col("entropy")).as("me"))
      val dup = docs.select(md5(col("text")).as("f"))
        .groupBy("f").agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_docs"))
      val gini = graft.operators.Quality.gini(
          docs.groupBy(col("source")).agg(count(lit(1)).as("v")),
          "v", tiebreaks = Seq("source"))
        .select(col("gini").as("source_gini"))
      basic.crossJoin(lex).crossJoin(dup).crossJoin(gini)
        .select(col("n_docs"), col("n_langs"), col("n_tokens"),
          col("dup_docs"),
          expr("dup_docs * 1000000L div n_docs").as("dup_ppm"),
          round(col("me"), 9).as("mean_entropy"),
          col("source_gini"))
    }, Some(s"""WITH $lexStatsSql,
       |basic AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM documents),
       |lex AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(CAST(entropy AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*) AS me
       |  FROM lexstats),
       |dup AS (SELECT CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
       |      AS BIGINT) AS dup_docs
       |  FROM (SELECT md5(text) AS f, CAST(count(*) AS BIGINT) AS c
       |    FROM documents GROUP BY 1)),
       |sc AS (SELECT source, CAST(count(*) AS BIGINT) AS v
       |  FROM documents GROUP BY 1),
       |sr AS (SELECT source, v,
       |    row_number() OVER (ORDER BY v ASC, source ASC) AS rn FROM sc),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS total FROM sc),
       |gn AS (SELECT round(CAST(sum(CAST(2 * rn - n - 1 AS DECIMAL(19,0))
       |      * CAST(v AS DECIMAL(19,0))) AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 9) AS source_gini
       |  FROM sr CROSS JOIN st GROUP BY n, total)
       |SELECT n_docs, n_langs, n_tokens, dup_docs,
       |  dup_docs * 1000000 // n_docs AS dup_ppm,
       |  round(me, 9) AS mean_entropy, source_gini
       |FROM basic CROSS JOIN lex CROSS JOIN dup CROSS JOIN gn"""
      .stripMargin)),

    ("q246_knn_label_noise", (s, d) => {
      // annotation QA: labels derived FROM geometry (3-bit portable SRP
      // bucket, q136's replayable planes) so neighbors agree by
      // construction — then every 13th vector's label is CORRUPTED
      // (+1 mod 8). The audit must surface the planted mislabels: an
      // anchor in the near-unanimous disagreement band (>= 900000 ppm)
      // is a suspect: ALL SIX planted corruptions land there (perfect
      // recall); the residual flags are SRP bucket-boundary vectors —
      // genuine ambiguity of the label rule itself, exactly what an
      // audit queue surfaces for review. (The table's own label column
      // was measured geometry-random — median disagreement = chance —
      // so it demonstrates nothing.)
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val labeled = emb.withColumn("__b", element_at(
          graft.functions.SrpSignatures.buckets(
            Similarity.toDouble(col("embedding")), 3, 64, 1), 1))
        .withColumn("label", when(col("vec_id") % 13 === 0,
          (col("__b") + 1) % 8).otherwise(col("__b")))
        .drop("__b")
      Similarity.knnLabelNoise(labeled,
        labeled.filter(col("vec_id") % 7 === 0),
        "vec_id", "embedding", "label", k = 10, suspectPpm = 900000L)
    }, Some("""WITH planes AS (
       |  SELECT bb.b, jj.j,
       |    CASE WHEN ((bb.b*64 + jj.j) % 100000007)
       |        * 2654435768 % 99999989 * 2246822519 % 1000000 < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(3) bb(b), range(64) jj(j)),
       |proj AS (
       |  SELECT e.vec_id, p.b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w ORDER BY p.j)),
       |      (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.b),
       |lab AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % 13 = 0 THEN (bkt + 1) % 8 ELSE bkt END AS label
       |  FROM (SELECT vec_id,
       |      CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT)
       |        AS bkt
       |    FROM proj GROUP BY vec_id)),
       |nn AS (
       |  SELECT q.vec_id AS query_id, lq.label AS ql, le.label AS nl
       |  FROM embeddings e
       |  JOIN (SELECT * FROM embeddings WHERE vec_id % 7 = 0) q
       |    ON e.vec_id <> q.vec_id
       |  JOIN lab le ON le.vec_id = e.vec_id
       |  JOIN lab lq ON lq.vec_id = q.vec_id
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
       |      e.vec_id) <= 10)
       |SELECT query_id, ql AS label, CAST(count(*) AS BIGINT) AS n_nn,
       |  CAST(sum(CASE WHEN nl <> ql THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_disagree,
       |  CAST(sum(CASE WHEN nl <> ql THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // count(*) AS disagree_ppm,
       |  CAST(sum(CASE WHEN nl <> ql THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // count(*) >= 900000 AS suspect
       |FROM nn GROUP BY 1, 2""".stripMargin)),

    ("q248_knn_label_noise_lsh", (s, d) => {
      // q246's scale twin: the SAME planted-corruption fixture (3-bit
      // portable SRP label, every 13th vector corrupted, every 7th
      // vector audited), but neighbors come from capped SRP-LSH bucket
      // candidates instead of the brute corpus×anchors product — the
      // shape a corpus-wide audit (anchors ∝ N) actually runs.
      // KnnLabelNoiseSpec asserts the suspect set matches brute q246
      // on this fixture.
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val labeled = emb.withColumn("__b", element_at(
          graft.functions.SrpSignatures.buckets(
            Similarity.toDouble(col("embedding")), 3, 64, 1), 1))
        .withColumn("label", when(col("vec_id") % 13 === 0,
          (col("__b") + 1) % 8).otherwise(col("__b")))
        .drop("__b")
      // bits=4 (16 buckets/table): an AUDIT needs candidate pools
      // deeper than k, so buckets are deliberately coarser than the
      // retrieval default — SimilaritySpec pins that this setting
      // recovers every planted corruption the brute audit finds.
      Similarity.knnLabelNoiseLsh(labeled,
        labeled.filter(col("vec_id") % 7 === 0),
        "vec_id", "embedding", "label", k = 10, suspectPpm = 900000L,
        bits = 4, dim = 64, tables = 8, maxBucketSize = 10000)
    }, Some("""WITH planes8 AS (
       |  SELECT tt.t, bb.b, jj.j,
       |    CASE WHEN (((tt.t*4 + bb.b)*64 + jj.j) % 100000007)
       |        * 2654435768 % 99999989 * 2246822519 % 1000000 < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(8) tt(t), range(4) bb(b), range(64) jj(j)),
       |proj8 AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w ORDER BY p.j)),
       |      (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes8 p
       |  GROUP BY e.vec_id, p.t, p.b),
       |sig AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM proj8 GROUP BY vec_id, t),
       |capped AS (
       |  SELECT * FROM sig
       |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000),
       |planes3 AS (
       |  SELECT bb.b, jj.j,
       |    CASE WHEN ((bb.b*64 + jj.j) % 100000007)
       |        * 2654435768 % 99999989 * 2246822519 % 1000000 < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(3) bb(b), range(64) jj(j)),
       |proj3 AS (
       |  SELECT e.vec_id, p.b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w ORDER BY p.j)),
       |      (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes3 p
       |  GROUP BY e.vec_id, p.b),
       |lab AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % 13 = 0 THEN (bkt + 1) % 8 ELSE bkt END AS label
       |  FROM (SELECT vec_id,
       |      CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT)
       |        AS bkt
       |    FROM proj3 GROUP BY vec_id)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM capped c JOIN sig q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE q.vec_id % 7 = 0 AND c.vec_id <> q.vec_id),
       |nn AS (
       |  SELECT cand.query_id, lq.label AS ql, ln.label AS nl
       |  FROM cand
       |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN lab ln ON ln.vec_id = cand.neighbor_id
       |  JOIN lab lq ON lq.vec_id = cand.query_id
       |  QUALIFY row_number() OVER (PARTITION BY cand.query_id
       |    ORDER BY list_cosine_similarity(e.embedding, qe.embedding) DESC,
       |      cand.neighbor_id) <= 10)
       |SELECT query_id, ql AS label, CAST(count(*) AS BIGINT) AS n_nn,
       |  CAST(sum(CASE WHEN nl <> ql THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_disagree,
       |  CAST(sum(CASE WHEN nl <> ql THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // count(*) AS disagree_ppm,
       |  CAST(sum(CASE WHEN nl <> ql THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // count(*) >= 900000 AS suspect
       |FROM nn GROUP BY 1, 2""".stripMargin)),

    ("q249_pii_redact", (s, d) => {
      // privacy scrub before training: every doc gets one PII payload
      // by doc_id class (email / Luhn-valid card / card-shaped order
      // id / IPv4 / phone); the typed redaction chain removes all of
      // them and the audit counts separate a real card leak (Luhn
      // passes) from numeric ids (Luhn fails) — both redacted, only
      // one raises the alarm.
      val t0 = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com")))
          .when(col("doc_id") % 5 === 1, " card 4532015112830366 ok")
          .when(col("doc_id") % 5 === 2, " order 1234567890123456 ok")
          .when(col("doc_id") % 5 === 3, " from 10.1.2.3 at dawn")
          .otherwise(" call 555-123-4567 now"))
      t(s, d, "documents").select(col("doc_id"), t0.as("t"))
        .select(col("doc_id"),
          graft.text.Pii.redact(col("t")).as("clean_text"),
          graft.text.Pii.emailCount(col("t")).as("n_emails"),
          graft.text.Pii.cardCount(col("t")).as("n_cards"),
          graft.text.Pii.ipv4Count(col("t")).as("n_ips"),
          graft.text.Pii.phoneCount(col("t")).as("n_phones"),
          graft.text.Pii.luhnValidCount(col("t")).as("luhn_valid"))
    }, Some {
      import graft.text.Pii.{EmailRe, CardRe, Ipv4Re, PhoneRe}
      s"""WITH f AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 5 = 0
         |         THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |           || '@example.com'
         |       WHEN doc_id % 5 = 1 THEN ' card 4532015112830366 ok'
         |       WHEN doc_id % 5 = 2 THEN ' order 1234567890123456 ok'
         |       WHEN doc_id % 5 = 3 THEN ' from 10.1.2.3 at dawn'
         |       ELSE ' call 555-123-4567 now' END AS t
         |  FROM documents),
         |s1 AS (SELECT doc_id, t,
         |  regexp_replace(t, '$EmailRe', '<EMAIL>', 'g') AS t1 FROM f),
         |s2 AS (SELECT *,
         |  regexp_replace(t1, '$CardRe', '<CARD>', 'g') AS t2 FROM s1),
         |s3 AS (SELECT *,
         |  regexp_replace(t2, '$Ipv4Re', '<IP>', 'g') AS t3 FROM s2)
         |SELECT doc_id,
         |  regexp_replace(t3, '$PhoneRe', '\\1<PHONE>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(t1, '$CardRe')) AS BIGINT)
         |    AS n_cards,
         |  CAST(len(regexp_extract_all(t2, '$Ipv4Re')) AS BIGINT)
         |    AS n_ips,
         |  CAST(len(regexp_extract_all(t3, '$PhoneRe')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(list_filter(
         |    list_transform(regexp_extract_all(t1, '$CardRe'), x ->
         |      reverse(regexp_replace(x, '[^0-9]', '', 'g'))),
         |    d -> len(d) >= 13 AND
         |      list_reduce(list_prepend(0,
         |        list_transform(range(1, len(d) + 1),
         |        i -> CASE WHEN (i - 1) % 2 = 1 THEN
         |               CASE WHEN 2 * CAST(d[i] AS INT) > 9
         |                    THEN 2 * CAST(d[i] AS INT) - 9
         |                    ELSE 2 * CAST(d[i] AS INT) END
         |             ELSE CAST(d[i] AS INT) END)),
         |        (a, b) -> a + b) % 10 = 0)) AS BIGINT) AS luhn_valid
         |FROM s3""".stripMargin
    }),

    ("q250_kmeans", (s, d) =>
      // corpus-scale spherical Lloyd k-means (2 rounds, k=8, portable
      // init): distributed recentering — exact decimal per-dim sums,
      // k×dim rows to the driver — with the whole TRAINED assignment
      // hash-oracled by unrolling both rounds in SQL (the q124/q131
      // codebook discipline, extended to full-vector Lloyd).
      graft.sim.KMeans.fit(
        t(s, d, "embeddings").select("vec_id", "embedding"),
        "vec_id", "embedding", k = 8, iters = 2, seed = 7L),
    Some {
      val dot = (1 to 64).map(i =>
        s"CAST(e.embedding[$i] AS DOUBLE) * c.v[$i]").mkString("\n       |    + ")
      val nrm = (1 to 64).map(i => s"c.v[$i] * c.v[$i]")
        .mkString("\n       |    + ")
      s"""WITH c0 AS (
       |  SELECT * FROM (
       |    SELECT row_number() OVER (ORDER BY
       |        ((vec_id % 100000007) * 2654435768 % 99999989)
       |          * 2246822519 % 1000000000,
       |        vec_id) - 1 AS c,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings) WHERE c < 8),
       |a0 AS (
       |  SELECT e.vec_id, c.c,
       |    round(($dot)
       |      / sqrt($nrm), 9) AS sc
       |  FROM embeddings e CROSS JOIN c0 c),
       |b0 AS (
       |  SELECT vec_id, c FROM a0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sc DESC, c ASC) = 1),
       |xs AS (
       |  SELECT e.vec_id, i AS d, CAST(e.embedding[i + 1] AS DOUBLE) AS x
       |  FROM embeddings e, range(0, 64) t(i)),
       |m1 AS (
       |  SELECT b0.c, xs.d,
       |    CAST(sum(CAST(xs.x AS DECIMAL(30,15))) AS DOUBLE) / count(*)
       |      AS mv
       |  FROM xs JOIN b0 USING (vec_id) GROUP BY 1, 2),
       |c1 AS (
       |  SELECT c0.c, COALESCE(m.v, c0.v) AS v
       |  FROM c0 LEFT JOIN
       |    (SELECT c, list(mv ORDER BY d) AS v FROM m1 GROUP BY c) m
       |    USING (c)),
       |a1 AS (
       |  SELECT e.vec_id, c.c,
       |    round(($dot)
       |      / sqrt($nrm), 9) AS sc
       |  FROM embeddings e CROSS JOIN c1 c)
       |SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM a1
       |QUALIFY row_number() OVER (PARTITION BY vec_id
       |  ORDER BY sc DESC, c ASC) = 1""".stripMargin
    }),

    ("q251_winnowing", (s, d) =>
      // MOSS winnowing fingerprints (Schleimer et al. 2003): window
      // minima of rolling 4-gram hashes, rightmost on ties — the
      // sketch with the guaranteed detection length w+k-1. Pure array
      // HOFs over the portable rolling hash, so the selection itself
      // is hash-oracled.
      graft.text.Winnow.fingerprints(
        t(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", k = 4, w = 4),
    Some(winnowSql + """
       |SELECT DISTINCT doc_id,
       |  CAST(i + len(win) - list_position(list_reverse(win),
       |    list_min(win)) AS INT) AS pos,
       |  list_min(win) AS fp
       |FROM wins""".stripMargin)),

    ("q252_winnowing_overlap", (s, d) =>
      // the MOSS match report over q251's sketch: doc pairs sharing
      // >= 2 distinct fingerprints via a fingerprint-bucket equi-join
      // (capped; never all-pairs) — planted near-dups share nearly
      // every fingerprint, unrelated docs almost none.
      graft.text.Winnow.overlapPairs(
        t(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", k = 4, w = 4, minShared = 2,
        maxBucketSize = 100000),
    Some(winnowSql + """,
       |fpd AS (
       |  SELECT DISTINCT doc_id, list_min(win) AS fp FROM wins),
       |capped AS (
       |  SELECT * FROM fpd
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= 100000)
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  CAST(count(*) AS BIGINT) AS shared
       |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    ("q253_min_k_surprisal", (s, d) =>
      // Min-K% Prob (Shi et al. 2024) as a curation statistic: the
      // exact-decimal surprisal TOTAL over each doc's 20% least-
      // probable tokens (totals-not-means, the q114 discipline) — the
      // memorization/formulaic-text signal the plain mean dilutes.
      graft.text.Vocab.minKSurprisal(
        t(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", frac = 0.2),
    Some(s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+'))
       |    AS token
       |  FROM documents),
       |freq AS (SELECT token, count(*) AS n_tok FROM tok GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM tok),
       |inst AS (
       |  SELECT tok.doc_id, tok.token,
       |    round(ln(CAST(n_total AS DOUBLE) / n_tok), 9) AS c,
       |    count(*) OVER (PARTITION BY doc_id) AS n,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY round(ln(CAST(n_total AS DOUBLE) / n_tok), 9) DESC,
       |        token ASC) AS rn
       |  FROM tok JOIN freq USING (token) CROSS JOIN tot)
       |SELECT doc_id,
       |  ${dsumSql("c")} AS min_k_total,
       |  CAST(count(*) AS BIGINT) AS k_tokens,
       |  CAST(max(n) AS BIGINT) AS n_tokens
       |FROM inst WHERE rn <= ceil(0.2 * n) GROUP BY 1""".stripMargin)),

    ("q254_k_anonymity", (s, d) =>
      // re-identification audit before a training-data release:
      // k-anonymity + l-diversity per quasi-identifier equivalence
      // class (nation × account-balance band; sensitive = market
      // segment) — one map-side-combinable groupBy, class-domain-sized
      // output.
      graft.operators.Privacy.kAnonymityReport(
        t(s, d, "customer"),
        Seq("nationkey" -> col("c_nationkey"),
          "bal_band" -> floor(col("c_acctbal") / 1000).cast("long")),
        sensitive = col("c_mktsegment"), k = 5, l = 2),
    Some("""SELECT c_nationkey AS nationkey,
       |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
       |  count(*) >= 5 AS k_anonymous,
       |  count(DISTINCT c_mktsegment) >= 2 AS l_diverse
       |FROM customer GROUP BY 1, 2""".stripMargin)),

    ("q255_knn_outliers", (s, d) =>
      // kNN-distance outlier audit (Ramaswamy et al. 2000), brute
      // yardstick on an audit batch (every 19th vector): exact-decimal
      // total of the 9-dp top-5 cosines; a low mean = mis-embedded or
      // off-distribution content. Scale twin: q256.
      graft.sim.Similarity.knnOutliers(
        t(s, d, "embeddings").select("vec_id", "embedding"),
        t(s, d, "embeddings").select("vec_id", "embedding")
          .filter(col("vec_id") % 19 === 0),
        "vec_id", "embedding", k = 5, thrPct = 50),
    Some(s"""WITH $cosFoldSql,
       |sims AS (
       |  SELECT qe.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    round(${dotSql("e", "qe")}
       |      / (nc.nrm * nq.nrm), 9) AS sim
       |  FROM embeddings e
       |  CROSS JOIN embeddings qe
       |  JOIN norms nc ON nc.vec_id = e.vec_id
       |  JOIN norms nq ON nq.vec_id = qe.vec_id
       |  WHERE qe.vec_id % 19 = 0 AND e.vec_id <> qe.vec_id),
       |top AS (
       |  SELECT query_id, sim FROM sims
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) <= 5),
       |sc AS (
       |  SELECT query_id,
       |    ${dsumSql("sim")} AS sim_total,
       |    CAST(count(*) AS BIGINT) AS n_nn
       |  FROM top GROUP BY 1)
       |SELECT a.vec_id AS query_id,
       |  coalesce(sc.sim_total, 0.0) AS sim_total,
       |  coalesce(sc.n_nn, 0) AS n_nn,
       |  (coalesce(sc.sim_total, 0.0) < coalesce(sc.n_nn, 0) * 0.5
       |    OR coalesce(sc.n_nn, 0) = 0) AS outlier
       |FROM embeddings a LEFT JOIN sc ON sc.query_id = a.vec_id
       |WHERE a.vec_id % 19 = 0""".stripMargin)),

    ("q256_knn_outliers_lsh", (s, d) =>
      // q255's corpus-scale shape, run the way the operator's sizing
      // contract says audits run: anchors in BATCHES (here one strided
      // batch, every 7th vector — the q248 discipline; candidate
      // volume is Σ_anchor(bucket occupancy), so a whole-corpus
      // single call on a low-diversity corpus is the quadratic-ish
      // anti-plan the scaladoc warns against). Capped SRP-LSH
      // candidates; a zero-candidate anchor — colliding with nothing
      // in any of 8 tables — surfaces as the most isolated point
      // (n_nn = 0, outlier = true) instead of disappearing, UNLESS
      // its bucket was capped away (a dropped over-cap bucket is the
      // densest region, not isolation — `capped` reports it).
      graft.sim.Similarity.knnOutliersLsh(
        t(s, d, "embeddings").select("vec_id", "embedding"),
        t(s, d, "embeddings").select("vec_id", "embedding")
          .filter(col("vec_id") % 7 === 3),
        "vec_id", "embedding", k = 5, thrPct = 50,
        bits = 4, dim = 64, tables = 8, maxBucketSize = 10000),
    Some(s"""WITH planes8 AS (
       |  SELECT tt.t, bb.b, jj.j,
       |    CASE WHEN (((tt.t*4 + bb.b)*64 + jj.j) % 100000007)
       |        * 2654435768 % 99999989 * 2246822519 % 1000000 < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(8) tt(t), range(4) bb(b), range(64) jj(j)),
       |proj8 AS (
       |  SELECT e.vec_id, p.t, p.b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w ORDER BY p.j)),
       |      (a, x) -> a + x) AS proj
       |  FROM embeddings e CROSS JOIN planes8 p
       |  GROUP BY e.vec_id, p.t, p.b),
       |sig AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM proj8 GROUP BY vec_id, t),
       |overk AS (
       |  SELECT t, bucket FROM sig GROUP BY t, bucket
       |  HAVING count(*) > 10000),
       |kept AS (
       |  SELECT s.* FROM sig s LEFT JOIN overk o
       |    ON s.t = o.t AND s.bucket = o.bucket
       |  WHERE o.t IS NULL),
       |cappedq AS (
       |  SELECT DISTINCT q.vec_id FROM sig q
       |  JOIN overk o ON q.t = o.t AND q.bucket = o.bucket
       |  WHERE q.vec_id % 7 = 3),
       |$cosFoldSql,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM kept c JOIN sig q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.vec_id AND q.vec_id % 7 = 3),
       |sims AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(${dotSql("e", "qe")}
       |      / (nc.nrm * nq.nrm), 9) AS sim
       |  FROM cand
       |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN norms nc ON nc.vec_id = cand.neighbor_id
       |  JOIN norms nq ON nq.vec_id = cand.query_id),
       |top AS (
       |  SELECT query_id, sim FROM sims
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) <= 5),
       |sc AS (
       |  SELECT query_id,
       |    ${dsumSql("sim")} AS sim_total,
       |    CAST(count(*) AS BIGINT) AS n_nn
       |  FROM top GROUP BY 1)
       |SELECT e.vec_id AS query_id,
       |  coalesce(sc.sim_total, 0.0) AS sim_total,
       |  coalesce(sc.n_nn, 0) AS n_nn,
       |  cq.vec_id IS NOT NULL AS capped,
       |  (coalesce(sc.sim_total, 0.0) < coalesce(sc.n_nn, 0) * 0.5
       |    OR (coalesce(sc.n_nn, 0) = 0 AND cq.vec_id IS NULL)) AS outlier
       |FROM embeddings e
       |LEFT JOIN sc ON sc.query_id = e.vec_id
       |LEFT JOIN cappedq cq ON cq.vec_id = e.vec_id
       |WHERE e.vec_id % 7 = 3""".stripMargin)),

    ("q257_session_pairs", (s, d) =>
      // sequence-example assembly for a behavior model: within each
      // 30-min-gap session, every event after the first becomes one
      // (context, target) next-action pair — pairs never cross a
      // session boundary, and the event_id tiebreak makes each
      // context engine-replayable. One user-keyed shuffle end to end.
      graft.operators.Sessionize.sessionPairs(
        t(s, d, "events"), "user_id", "ts", "event_type", 1800L,
        Seq(col("event_id").asc)),
    Some("""WITH flagged AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |    THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS session_seq
       |  FROM flagged)
       |SELECT user_id, session_seq,
       |  row_number() OVER (PARTITION BY user_id, session_seq
       |    ORDER BY ts, event_id) - 1 AS pair_pos,
       |  string_agg(event_type, ' ') OVER (
       |    PARTITION BY user_id, session_seq ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS context,
       |  event_type AS target
       |FROM sess
       |QUALIFY row_number() OVER (PARTITION BY user_id, session_seq
       |  ORDER BY ts, event_id) >= 2""".stripMargin)),

    ("q258_curriculum_order", (s, d) =>
      // shuffled-bucket curriculum for epoch 3: ten length tiers easy
      // to hard, portable-hash shuffle within each tier — difficulty
      // ramps while adjacent examples stay decorrelated; NTILE pass +
      // fused pure-projection position pass, both bucket-distributed
      // (no single-task global window, no second sketch read).
      graft.operators.Sample.curriculumOrder(
        t(s, d, "documents").select(col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", col("n_tokens"), buckets = 10, epoch = 3L),
    Some("""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
       |      AS tier
       |  FROM d),
       |k AS (
       |  SELECT doc_id, n_tokens, tier,
       |    (tier - 1) * 1000000000 +
       |      ((((doc_id % 100000007) * (2654435761 + 3)) % 99999989)
       |        * 2246822519) % 1000000000 AS ck
       |  FROM t)
       |SELECT doc_id, n_tokens, tier,
       |  CAST(row_number() OVER (ORDER BY ck, doc_id) AS BIGINT)
       |    AS train_pos
       |FROM k""".stripMargin)),

    ("q259_stream_enrich", (s, d) =>
      // stream-static dimension enrichment, batch-equivalently
      // certified (the q230 discipline): a real enrichSink
      // StreamingQuery consumes the events table in two staged
      // micro-batches, each left-joining the broadcast customer dim;
      // the telescoped output must hash-match the one-shot batch join
      // — enrichment is stateless, so streaming and batch MUST agree.
      Replay.withTempRoot("graft_q259_") { tmp =>
        val feed = s"$tmp/feed"
        val ev = t(s, d, "events")
          .select("event_id", "user_id", "event_type")
        def half(r: Int) = ev.filter(col("event_id") % 2 === r).coalesce(1)
        Replay.stage(half(0), feed, 1)
        val dim = t(s, d, "customer")
          .withColumnRenamed("c_custkey", "user_id")
        Replay.drive(s) {
          Streams.enrichSink(Replay.source(s, feed), dim, "user_id",
            Seq("c_mktsegment", "c_nationkey"), s"$tmp/out", s"$tmp/ckpt")
        }(() => Replay.stage(half(1), feed, 2))
        s.read.parquet(s"$tmp/out")
          .select("event_id", "user_id", "event_type",
            "c_mktsegment", "c_nationkey")
          .localCheckpoint(true)
      }, Some("""SELECT e.event_id, e.user_id, e.event_type,
       |  c.c_mktsegment, c.c_nationkey
       |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id"""
      .stripMargin)),

    ("q260_unicode_scrub", (s, d) => {
      // web-corpus Unicode hygiene ahead of every byte-level dedup op:
      // NFC normalization (native codegen'd expression — composed and
      // decomposed 'café' become byte-identical), zero-width
      // invisibles and non-whitespace controls stripped. Every doc
      // gets one adversarial payload by doc_id class; `changed` and
      // `n_removed` are the audit the scrub emits.
      // explicit escape sequences, never pasted glyphs: %4=0 composed
      // U+00E9, %4=1 DECOMPOSED e + combining U+0301 (NFC must converge
      // the two), %4=2 a zero-width space, else a BEL control
      val t0 = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" caf\u00E9 menu"))
          .when(col("doc_id") % 4 === 1, lit(" cafe\u0301 menu"))
          .when(col("doc_id") % 4 === 2, lit(" zero\u200Bwidth"))
          .otherwise(lit(" ctl\u0007char")))
      t(s, d, "documents").select(col("doc_id"), t0.as("t"))
        .select(col("doc_id"),
          graft.text.TextOps.unicodeScrub(col("t")).as("clean_text"),
          (graft.text.TextOps.unicodeScrub(col("t")) =!= col("t"))
            .as("changed"),
          (length(col("t")) - length(graft.text.TextOps.unicodeScrub(col("t"))))
            .cast("long").as("n_removed"))
    }, Some("""WITH f AS (SELECT doc_id, text ||
       |  CASE WHEN doc_id % 4 = 0 THEN ' caf' || chr(233) || ' menu'
       |       WHEN doc_id % 4 = 1 THEN ' cafe' || chr(769) || ' menu'
       |       WHEN doc_id % 4 = 2 THEN ' zero' || chr(8203) || 'width'
       |       ELSE ' ctl' || chr(7) || 'char' END AS t
       |  FROM documents),
       |c AS (SELECT doc_id, t,
       |  regexp_replace(regexp_replace(nfc_normalize(t),
       |    '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
       |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS clean_text
       |  FROM f)
       |SELECT doc_id, clean_text, clean_text <> t AS changed,
       |  CAST(length(t) - length(clean_text) AS BIGINT) AS n_removed
       |FROM c""".stripMargin)),

    ("q261_benford_audit", (s, d) =>
      // Benford first-digit fraud screen per order priority: one
      // map-side-combinable (group, digit) aggregate is the only
      // fact-scale exchange; chi-square against log10(1+1/d)
      // expectation, zero-count digits densified in.
      graft.operators.Benford.firstDigitAudit(
        t(s, d, "orders"), "priority", col("o_orderpriority"),
        col("o_totalprice")),
    Some("""WITH f AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
       |      1, 1) AS INT) AS d
       |  FROM orders WHERE o_totalprice >= 1),
       |c AS (SELECT g, d, CAST(count(*) AS BIGINT) AS cnt
       |  FROM f GROUP BY 1, 2),
       |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
       |dense AS (
       |  SELECT tot.g, tot.n, dd.d + 1 AS d, coalesce(c.cnt, 0) AS cnt
       |  FROM tot CROSS JOIN range(9) dd(d)
       |  LEFT JOIN c ON c.g = tot.g AND c.d = dd.d + 1),
       |terms AS (
       |  SELECT g, n,
       |    round((cnt - n * round(log10(1.0 + 1.0 / d), 9))
       |      * (cnt - n * round(log10(1.0 + 1.0 / d), 9))
       |      / (n * round(log10(1.0 + 1.0 / d), 9)), 9) AS t
       |  FROM dense)
       |SELECT g AS priority, n,
       |  CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS chi2,
       |  CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) > 20.09 AS suspect
       |FROM terms GROUP BY 1, 2""".stripMargin)),

    ("q262_ab_lift", (s, d) =>
      // deterministic A/B readout: portable-hash variant assignment
      // (pure function of user_id and the experiment seed — any
      // engine re-derives the split), per-user converted-or-not in
      // ONE user-keyed shuffle, then the standard two-proportion
      // pooled z-test on a 2-row table.
      graft.operators.Experiment.abConversionLift(
        t(s, d, "events"), "user_id",
        col("event_type") === "purchase" && col("value") > 150,
        seed = 5L),
    Some("""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND value > 150
       |      THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1),
       |v AS (
       |  SELECT ((((user_id % 100000007) * (2654435761 + 5)) % 99999989)
       |      * 2246822519) % 2 AS var,
       |    CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x
       |  FROM u GROUP BY 1),
       |agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN var = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN var = 0 THEN x ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(sum(CASE WHEN var = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN var = 1 THEN x ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM v),
       |z AS (
       |  SELECT *,
       |    CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
       |    THEN
       |    round((conv_b / CAST(n_b AS DOUBLE) - conv_a / CAST(n_a AS DOUBLE))
       |      / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
       |        * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
       |        * (1.0 / n_a + 1.0 / n_b)), 9)
       |    ELSE NULL END AS z_stat
       |  FROM agg)
       |SELECT n_a, conv_a, n_b, conv_b,
       |  round(conv_a / CAST(n_a AS DOUBLE), 9) AS rate_a,
       |  round(conv_b / CAST(n_b AS DOUBLE), 9) AS rate_b,
       |  round(conv_b / CAST(n_b AS DOUBLE)
       |    - conv_a / CAST(n_a AS DOUBLE), 9) AS lift,
       |  z_stat, coalesce(abs(z_stat) > 2.575829, false) AS significant
       |FROM z""".stripMargin)),

    ("q263_random_projection", (s, d) =>
      // Johnson-Lindenstrauss 64->16 reduction with portable +/-1
      // planes through the native fused matrix-dot expression — a pure
      // projection, no shuffle at any scale; emitted per (vector, out
      // dim) so the schema stays flat for the gate. proj is the
      // JL-normalized dot/sqrt(16): the operator yields dot/sqrt(64)
      // (exact power-of-two division), scaled here by 2.
      t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.sim.Similarity.randomProject(
            col("embedding"), 16, 64, seed = 11L)).as(Seq("d", "raw")))
        .select(col("vec_id"), col("d").cast("long").as("d"),
          round(col("raw") * lit(2.0), 9).as("proj")),
    Some("""WITH planes AS (
       |  SELECT jj.j, dd.d,
       |    CASE WHEN ((((jj.j * 64 + dd.d) % 100000007)
       |        * (2654435761 + 11)) % 99999989) * 2246822519 % 1000000
       |        < 500000
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
       |  FROM range(16) jj(j), range(64) dd(d)),
       |p AS (
       |  SELECT e.vec_id, pl.j,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(e.embedding[pl.d + 1] AS DOUBLE) * pl.w
       |        ORDER BY pl.d)),
       |      (a, x) -> a + x) AS raw
       |  FROM embeddings e CROSS JOIN planes pl
       |  GROUP BY e.vec_id, pl.j)
       |SELECT vec_id, CAST(j AS BIGINT) AS d,
       |  round((raw / 8.0) * 2.0, 9) AS proj
       |FROM p""".stripMargin)),

    ("q264_feature_mi", (s, d) =>
      // categorical dependence profile: MI(nation; segment) in nats +
      // marginal entropies + normalized MI — one (x, y) fact-scale
      // aggregate, everything downstream domain-sized. Near-zero NMI
      // here certifies the synthetic segments are nation-independent.
      graft.operators.Quality.mutualInformation(
        t(s, d, "customer"), col("c_nationkey"), col("c_mktsegment")),
    Some("""WITH cells AS (
       |  SELECT c_nationkey AS x, c_mktsegment AS y,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM customer
       |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
       |  GROUP BY 1, 2),
       |xm AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
       |ym AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
       |mi AS (
       |  SELECT CAST(sum(CAST(round((CAST(c AS DOUBLE) / n)
       |      * round(ln(CAST(c AS DOUBLE) * n
       |        / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS mi_nats,
       |    CAST(count(*) AS BIGINT) AS n_cells
       |  FROM cells JOIN xm USING (x) JOIN ym USING (y) CROSS JOIN tot),
       |hx AS (
       |  SELECT CAST(sum(CAST(round(-(CAST(cx AS DOUBLE) / n)
       |      * round(ln(CAST(cx AS DOUBLE) / n), 9), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS h_x
       |  FROM xm CROSS JOIN tot),
       |hy AS (
       |  SELECT CAST(sum(CAST(round(-(CAST(cy AS DOUBLE) / n)
       |      * round(ln(CAST(cy AS DOUBLE) / n), 9), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS h_y
       |  FROM ym CROSS JOIN tot)
       |SELECT mi_nats, h_x, h_y,
       |  CASE WHEN least(h_x, h_y) > 0
       |    THEN round(mi_nats / least(h_x, h_y), 9) END AS nmi,
       |  n_cells, n
       |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot"""
      .stripMargin)),

    ("q265_seasonal_baseline", (s, d) =>
      // MASE-style forecast floor on daily revenue: naive-1 vs
      // seasonal-naive(7) MAE, both lags as equi-self-joins on the
      // date-domain-sized daily series — the only fact-scale work is
      // the one date-keyed aggregate.
      graft.operators.Seasonal.seasonalNaiveError(
        t(s, d, "orders"), to_date(col("o_orderdate")),
        col("o_totalprice"), season = 7),
    Some("""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS v
       |  FROM orders GROUP BY 1),
       |e1 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs_1,
       |    CAST(sum(CAST(round(abs(a.v - b.v), 9) AS DECIMAL(18,6)))
       |      AS DOUBLE) / count(*) AS mae1
       |  FROM daily a JOIN daily b ON a.d = b.d + 1),
       |es AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs_s,
       |    CAST(sum(CAST(round(abs(a.v - b.v), 9) AS DECIMAL(18,6)))
       |      AS DOUBLE) / count(*) AS maes
       |  FROM daily a JOIN daily b ON a.d = b.d + 7)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       |  n_pairs_1, n_pairs_s,
       |  round(mae1, 9) AS mae_naive1, round(maes, 9) AS mae_seasonal,
       |  CASE WHEN mae1 > 0 THEN round(maes / mae1, 9) END AS mase,
       |  maes < mae1 AS seasonal_wins
       |FROM e1 CROSS JOIN es""".stripMargin)),

    ("q266_order_autocorr", (s, d) => {
      // order-quality certification: lag-1 autocorrelation of doc
      // length along the epoch-shuffled training order (~0, adjacent
      // examples decorrelated) vs along the sorted-by-length order
      // (~1, the anti-pattern) — consecutive pairs via equi-self-join
      // on pos+1, never a global lag() window.
      // checkpoint the tokenized projection FIRST (the Ranks caller-
      // checkpoints rule): two rank passes read their input 3x each,
      // and re-running tokenCount over the raw corpus per read was
      // measured 6x the whole audit's cost at soak zipf10
      val docs = t(s, d, "documents").select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).as("n_tokens"))
        .localCheckpoint(true)
      // checkpoint both orders too:
      // the autocorrelation self-joins its input, so an un-materialized
      // rank plan would execute twice per audit
      val shuffled = graft.operators.Sample.epochOrder(
        docs, "doc_id", epoch = 1L).localCheckpoint(true)
      val sorted = graft.operators.Ranks.rowNumber(
        docs, "n_tokens", ascending = true, tiebreaks = Seq("doc_id"),
        out = "pos").localCheckpoint(true)
      graft.operators.Sample
        .orderAutocorrelation(shuffled, "train_pos", col("n_tokens"))
        .withColumnRenamed("autocorr", "shuffled_autocorr")
        .crossJoin(
          graft.operators.Sample
            .orderAutocorrelation(sorted, "pos", col("n_tokens"))
            .select(col("autocorr").as("sorted_autocorr")))
    }, Some("""WITH docs AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |sh AS (
       |  SELECT n_tokens, row_number() OVER (ORDER BY
       |    ((((doc_id % 100000007) * (2654435761 + 1)) % 99999989)
       |      * 2246822519) % 1000000000, doc_id) AS pos
       |  FROM docs),
       |so AS (
       |  SELECT n_tokens,
       |    row_number() OVER (ORDER BY n_tokens, doc_id) AS pos
       |  FROM docs),
       |psh AS (SELECT a.n_tokens AS x, b.n_tokens AS y
       |  FROM sh a JOIN sh b ON b.pos = a.pos + 1),
       |pso AS (SELECT a.n_tokens AS x, b.n_tokens AS y
       |  FROM so a JOIN so b ON b.pos = a.pos + 1),
       |ssh AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(round(CAST(y AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |    CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS syy
       |  FROM psh),
       |sso AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(round(CAST(y AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |    CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE) AS syy
       |  FROM pso)
       |SELECT ssh.n_pairs,
       |  round((ssh.n_pairs * ssh.sxy - ssh.sx * ssh.sy)
       |    / sqrt((ssh.n_pairs * ssh.sxx - ssh.sx * ssh.sx)
       |      * (ssh.n_pairs * ssh.syy - ssh.sy * ssh.sy)), 9)
       |    AS shuffled_autocorr,
       |  round((sso.n_pairs * sso.sxy - sso.sx * sso.sy)
       |    / sqrt((sso.n_pairs * sso.sxx - sso.sx * sso.sx)
       |      * (sso.n_pairs * sso.syy - sso.sy * sso.sy)), 9)
       |    AS sorted_autocorr
       |FROM ssh CROSS JOIN sso""".stripMargin)),

    ("q267_bloom_prefilter", (s, d) => {
      // Bloom prefilter ahead of a selective join: the BUILDING
      // segment's key set becomes a 1024-bit portable-hash filter
      // (bounded driver collect, like Ranks' cuts), the fact side
      // reduces by a PURE PROJECTION — no shuffle, no broadcast join
      // state — and only survivors reach the exact semi-join. The
      // report certifies zero false negatives by construction and
      // measures the false-positive mass the bit budget buys.
      val dim = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val bits = graft.operators.BloomJoin.build(
        dim, col("c_custkey"), m = 1024, k = 3, seed = 9L)
      val orders = t(s, d, "orders")
      val pre = orders.filter(graft.operators.BloomJoin.mightContain(
        col("o_custkey"), bits, k = 3, seed = 9L))
      val exact = pre.join(
        dim.withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), "left_semi")
      orders.agg(count(lit(1)).as("n_orders"))
        .crossJoin(pre.agg(count(lit(1)).as("bloom_pass")))
        .crossJoin(exact.agg(count(lit(1)).as("exact_pass")))
        .select(col("n_orders"), col("bloom_pass"), col("exact_pass"),
          (col("bloom_pass") - col("exact_pass")).as("false_positives"),
          round((col("bloom_pass") - col("exact_pass")).cast("double")
            / col("n_orders"), 9).as("fp_share"))
    }, Some("""WITH dim AS (
       |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
       |dpos AS (
       |  SELECT DISTINCT ((((c_custkey % 100000007)
       |      * (2654435761 + 9 + i.i)) % 99999989) * 2246822519) % 1024
       |      AS p
       |  FROM dim CROSS JOIN range(3) i(i)),
       |op AS (
       |  SELECT o.o_orderkey, o.o_custkey,
       |    ((((o.o_custkey % 100000007) * (2654435761 + 9 + i.i))
       |      % 99999989) * 2246822519) % 1024 AS p
       |  FROM orders o CROSS JOIN range(3) i(i)),
       |hit AS (
       |  SELECT op.o_orderkey, op.o_custkey,
       |    bool_and(dpos.p IS NOT NULL) AS pass
       |  FROM op LEFT JOIN dpos ON dpos.p = op.p
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_orders,
       |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
       |      AS bloom_pass,
       |    CAST(sum(CASE WHEN pass AND d2.c_custkey IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS exact_pass
       |  FROM hit LEFT JOIN (SELECT DISTINCT c_custkey FROM dim) d2
       |    ON d2.c_custkey = hit.o_custkey)
       |SELECT n_orders, bloom_pass, exact_pass,
       |  bloom_pass - exact_pass AS false_positives,
       |  round((bloom_pass - exact_pass) / CAST(n_orders AS DOUBLE), 9)
       |    AS fp_share
       |FROM agg""".stripMargin)),

    ("q268_krippendorff_alpha", (s, d) => {
      // annotation QA for the RAGGED panel real queues produce: the
      // q233 rule-raters, but raters 2 and 3 abstain on id-derived
      // slices (every 5th / every 3rd doc) — items carry 1..3 ratings,
      // the shape Fleiss must drop items over and alpha is built for;
      // single-rating items (id % 15 == 0) are excluded by the
      // mathematics, not a completeness filter.
      val docs = t(s, d, "documents").select("doc_id", "text", "n_chars")
      val r1 = docs.select(col("doc_id").as("item"),
        when(col("n_chars") >= 300, "keep").otherwise("drop").as("cat"))
      val r2 = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("item"),
          when(TextOps.tokenCount(col("text")) >= 60, "keep")
            .otherwise("drop").as("cat"))
      val r3 = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("item"),
          when(col("text").contains("the"), "keep").otherwise("drop")
            .as("cat"))
      graft.operators.Agreement.krippendorffAlpha(
        r1.union(r2).union(r3), "item", "cat")
    }, Some("""WITH ratings AS (
       |  SELECT doc_id AS item,
       |    CASE WHEN n_chars >= 300 THEN 'keep' ELSE 'drop' END AS cat
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id,
       |    CASE WHEN len(regexp_split_to_array(text, '\s+')) >= 60
       |      THEN 'keep' ELSE 'drop' END
       |  FROM documents WHERE doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT doc_id,
       |    CASE WHEN text LIKE '%the%' THEN 'keep' ELSE 'drop' END
       |  FROM documents WHERE doc_id % 3 <> 0),
       |ic AS (
       |  SELECT item, cat, CAST(count(*) AS BIGINT) AS nik
       |  FROM ratings GROUP BY 1, 2),
       |pi AS (
       |  SELECT item, CAST(sum(nik) AS BIGINT) AS mi,
       |    CAST(sum(nik * (nik - 1)) AS BIGINT) AS sp
       |  FROM ic GROUP BY 1 HAVING sum(nik) >= 2),
       |obs AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(sum(mi) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(CAST(mi * (mi - 1) - sp AS DOUBLE)
       |      / CAST(mi - 1 AS DOUBLE), 9) AS DECIMAL(18,6))) AS DOUBLE)
       |      AS donum
       |  FROM pi),
       |pool AS (
       |  SELECT CAST(sum(nk * (nk - 1)) AS BIGINT) AS sametot
       |  FROM (SELECT cat, CAST(sum(nik) AS BIGINT) AS nk
       |    FROM ic JOIN pi USING (item) GROUP BY 1))
       |SELECT n_items, n AS n_ratings,
       |  round(donum / CAST(n AS DOUBLE), 9) AS do_rate,
       |  round((n * (n - 1) - sametot) / CAST(n * (n - 1) AS DOUBLE), 9)
       |    AS de_rate,
       |  CASE WHEN (n * (n - 1) - sametot)
       |      / CAST(n * (n - 1) AS DOUBLE) > 0
       |    THEN round(1.0 - (donum / CAST(n AS DOUBLE))
       |      / ((n * (n - 1) - sametot) / CAST(n * (n - 1) AS DOUBLE)), 9)
       |    ELSE NULL END AS alpha
       |FROM obs CROSS JOIN pool""".stripMargin)),

    ("q269_wasserstein_drift", (s, d) => {
      // exact earth-mover drift between the URGENT and LOW order-price
      // distributions, in dollars — the order-aware metric PSI (q153)
      // is not. No global sort: distinct-value table + bucket-
      // distributed rank/prefix-sum passes + a rank+1 gap join.
      val orders = t(s, d, "orders")
      graft.operators.Quality.wasserstein1D(
        orders.filter(col("o_orderpriority") === "1-URGENT"),
        orders.filter(col("o_orderpriority") === "5-LOW"),
        "o_totalprice")
    }, Some(s"""WITH vals AS (
       |  SELECT v,
       |    CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM (
       |    SELECT o_totalprice AS v, 0 AS s FROM orders
       |    WHERE o_orderpriority = '1-URGENT'
       |    UNION ALL
       |    SELECT o_totalprice, 1 FROM orders
       |    WHERE o_orderpriority = '5-LOW')
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS na,
       |    CAST(sum(cb) AS BIGINT) AS nb,
       |    CAST(count(*) AS BIGINT) AS nv
       |  FROM vals),
       |c AS (
       |  SELECT v,
       |    sum(ca) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |    sum(cb) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
       |    lead(v) OVER (ORDER BY v) AS vn
       |  FROM vals),
       |terms AS (
       |  SELECT round(abs(cuma / CAST(na AS DOUBLE)
       |      - cumb / CAST(nb AS DOUBLE)) * (vn - v), 9) AS term,
       |    na, nb, nv
       |  FROM c CROSS JOIN tot WHERE vn IS NOT NULL)
       |SELECT ${dsumSql("term")} AS w1, nv AS n_values,
       |  na AS n_a, nb AS n_b
       |FROM terms GROUP BY nv, na, nb""".stripMargin)),

    ("q270_stream_dedup", (s, d) =>
      // streaming exact key-dedup, batch-equivalently certified (the
      // q259 discipline): an at-least-once feed — two staged
      // micro-batches carrying within-batch replays AND cross-batch
      // replays of batch-1 rows — through dropDuplicatesWithinWatermark;
      // the telescoped output must hash-match the clean events table,
      // proving the keyed state dedups across micro-batch boundaries.
      Replay.withTempRoot("graft_q270_") { tmp =>
        val feed = s"$tmp/feed"
        val ev = t(s, d, "events")
          .select("event_id", "ts", "user_id", "event_type")
        def mod(m: Int, r: Int) = ev.filter(col("event_id") % m === r)
        // staged without coalesce: a coalesce(1) write here was the
        // query's single biggest cost, a one-thread funnel for a
        // corpus-sized feed. Batch 1: even ids, plus replayed copies of
        // every 10th id
        Replay.stage(mod(2, 0).unionByName(mod(10, 0)), feed, 1)
        Replay.drive(s) {
          Streams.dedupSink(Replay.source(s, feed), "ts", Seq("event_id"),
            delay = "3650 days", s"$tmp/out", s"$tmp/ckpt")
        }(() =>
          // batch 2: odd ids, replays of odd ids (within-batch dups)
          // AND replays of id%10==4 — even rows batch 1 already
          // emitted, the cross-batch state test
          Replay.stage(mod(2, 1).unionByName(mod(10, 1))
            .unionByName(mod(10, 4)), feed, 2))
        s.read.parquet(s"$tmp/out")
          .select("event_id", "ts", "user_id", "event_type")
          .localCheckpoint(true)
      }, Some("""SELECT event_id, ts, user_id, event_type FROM events""")),

    ("q271_theil_decomposition", (s, d) =>
      // revenue inequality, decomposed: is concentration a NATION
      // story (between) or a whale story (within)? One fact-scale
      // groupBy carries all three sufficient statistics; the Gini
      // (q241) can't split this additively.
      graft.operators.Theil.decomposition(
        t(s, d, "orders").join(
          t(s, d, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_nationkey")), Seq("o_custkey")),
        col("c_nationkey"), col("o_totalprice")),
    Some("""WITH f AS (
       |  SELECT c.c_nationkey AS g, o.o_totalprice AS x
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |  WHERE o.o_totalprice > 0),
       |pg AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
       |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS xg,
       |    CAST(sum(CAST(round(x * round(ln(x), 9), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS sg
       |  FROM f GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(ng) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS n_groups,
       |    CAST(sum(CAST(round(xg, 9) AS DECIMAL(30,6))) AS DOUBLE) AS xx,
       |    CAST(sum(CAST(round(sg, 9) AS DECIMAL(30,6))) AS DOUBLE) AS ss
       |  FROM pg),
       |btw AS (
       |  SELECT CAST(sum(CAST(round((xg / xx)
       |      * round(ln((xg / xx) / (CAST(ng AS DOUBLE) / n)), 9), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS b
       |  FROM pg CROSS JOIN tot)
       |SELECT n, n_groups,
       |  round(ss / xx - round(ln(xx / n), 9), 9) AS theil_total,
       |  round(b, 9) AS theil_between,
       |  round(round(ss / xx - round(ln(xx / n), 9), 9) - round(b, 9), 9)
       |    AS theil_within
       |FROM tot CROSS JOIN btw""".stripMargin)),

    ("q272_cusum_drift", (s, d) =>
      // sequential changepoint monitor on daily revenue: CUSUM via the
      // prefix-minus-running-min identity, deviations in exact decimal
      // so the windows are summation-order-free; the windows run over
      // the calendar-bounded daily series only (the documented
      // B-rows-not-facts exception).
      graft.operators.Seasonal.cusumDrift(
        t(s, d, "orders"), to_date(col("o_orderdate")),
        col("o_totalprice"), threshold = 100000.0),
    Some("""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
       |      AS value
       |  FROM orders GROUP BY 1),
       |tgt AS (
       |  SELECT CAST(sum(CAST(round(value, 9) AS DECIMAL(30,6)))
       |    AS DOUBLE) / count(*) AS t
       |  FROM daily),
       |dev AS (
       |  SELECT d, value,
       |    CAST(value AS DECIMAL(30,6)) - CAST(round(t, 6)
       |      AS DECIMAL(30,6)) AS dv
       |  FROM daily CROSS JOIN tgt),
       |c1 AS (
       |  SELECT d, value, sum(dv) OVER (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
       |  FROM dev),
       |c2 AS (
       |  SELECT d, value, p,
       |    min(CASE WHEN p < 0 THEN p
       |      ELSE CAST(0 AS DECIMAL(38,6)) END) OVER (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
       |  FROM c1)
       |SELECT d, value, CAST(p - m AS DOUBLE) AS cusum,
       |  CAST(p - m AS DOUBLE) > 100000 AS alarm
       |FROM c2""".stripMargin)),

    ("q273_group_ols", (s, d) =>
      // closed-form price-vs-quantity regression per return flag: the
      // five sufficient sums ride ONE map-side-combinable aggregate;
      // no solver, no second pass, one row per group.
      // Par.fan: the five decimal sufficient-sums otherwise run their
      // map side on the scan's one task (single-file input); keyed by
      // l_orderkey so the hash spreads. No-op at scale.
      graft.operators.Ols.fitGrouped(
        graft.operators.Par.fan(t(s, d, "lineitem"), col("l_orderkey")),
        "flag", col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice")),
    Some("""WITH s AS (
       |  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(round(CAST(l_extendedprice AS DOUBLE), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE)
       |      * CAST(l_extendedprice AS DOUBLE), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE)
       |      * CAST(l_quantity AS DOUBLE), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |    CAST(sum(CAST(round(CAST(l_extendedprice AS DOUBLE)
       |      * CAST(l_extendedprice AS DOUBLE), 9)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS syy
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
       |  GROUP BY 1)
       |SELECT flag, n,
       |  CASE WHEN n * sxx - sx * sx > 0
       |    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
       |    END AS slope,
       |  CASE WHEN n * sxx - sx * sx > 0
       |    THEN round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
       |      * sx) / n, 9)
       |    END AS intercept,
       |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       |    THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
       |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
       |    END AS r2
       |FROM s""".stripMargin)),

    ("q274_negative_sample", (s, d) => {
      // reproducible negatives for a two-tower recommender: per
      // customer, 12 portable-hash candidate parts, own interactions
      // anti-joined away, first 4 survivors in probe order kept — the
      // identical training set on any engine, any layout.
      val inter = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey")), Seq("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey")).distinct()
      val nItems = t(s, d, "part").count()
      // TPC-H part keys are 1-based: itemBase = 1 maps the candidate
      // domain onto [1, nItems] so partkey 0 (nonexistent) is never
      // emitted and partkey = nItems is reachable
      graft.operators.Sample.negativeSample(inter, "o_custkey",
        "l_partkey", nItems, k = 4, oversample = 3, seed = 13L,
        itemBase = 1L)
    }, Some("""WITH inter AS (
       |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS m FROM part),
       |cand AS (
       |  SELECT u,
       |    ((((u % 100000007) * (2654435761 + 13 + j.j)) % 99999989)
       |      * 2246822519) % (SELECT m FROM np) + 1 AS i,
       |    CAST(min(j.j) AS BIGINT) AS jmin
       |  FROM (SELECT DISTINCT u FROM inter) uu CROSS JOIN range(12) j(j)
       |  GROUP BY 1, 2),
       |neg AS (
       |  SELECT c.u, c.i, c.jmin
       |  FROM cand c LEFT JOIN inter
       |    ON inter.u = c.u AND inter.i = c.i
       |  WHERE inter.u IS NULL)
       |SELECT u AS o_custkey, i AS l_partkey,
       |  row_number() OVER (PARTITION BY u ORDER BY jmin, i)
       |    AS pick_order
       |FROM neg
       |QUALIFY row_number() OVER (PARTITION BY u ORDER BY jmin, i) <= 4"""
      .stripMargin)),

    ("q275_jsd_sources", (s, d) => {
      // symmetric, always-finite source-similarity for the mixing
      // schedule: JSD (nats, <= ln 2) between short-doc and long-doc
      // unigram distributions — one (token, side) aggregate, terms
      // over the vocabulary table; one-sided tokens contribute only
      // their present side (no epsilon smoothing).
      val docs = t(s, d, "documents")
      graft.text.Vocab.jsDivergence(
        docs.filter(col("n_chars") < 300),
        docs.filter(col("n_chars") >= 300), "text")
    }, Some("""WITH vals AS (
       |  SELECT t AS tok,
       |    CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM (
       |    SELECT unnest(regexp_split_to_array(text, '\s+')) AS t, 0 AS s
       |    FROM documents WHERE n_chars < 300
       |    UNION ALL
       |    SELECT unnest(regexp_split_to_array(text, '\s+')), 1
       |    FROM documents WHERE n_chars >= 300)
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS na,
       |    CAST(sum(cb) AS BIGINT) AS nb,
       |    CAST(count(*) AS BIGINT) AS nv
       |  FROM vals),
       |terms AS (
       |  SELECT round(
       |    CASE WHEN ca > 0 THEN 0.5 * (ca / CAST(na AS DOUBLE))
       |      * round(ln((ca / CAST(na AS DOUBLE))
       |        / ((ca / CAST(na AS DOUBLE) + cb / CAST(nb AS DOUBLE))
       |          / 2)), 9) ELSE 0.0 END +
       |    CASE WHEN cb > 0 THEN 0.5 * (cb / CAST(nb AS DOUBLE))
       |      * round(ln((cb / CAST(nb AS DOUBLE))
       |        / ((ca / CAST(na AS DOUBLE) + cb / CAST(nb AS DOUBLE))
       |          / 2)), 9) ELSE 0.0 END, 9) AS j
       |  FROM vals CROSS JOIN tot)
       |SELECT CAST(sum(CAST(j AS DECIMAL(18,6))) AS DOUBLE) AS jsd_nats,
       |  (SELECT na FROM tot) AS n_tokens_a,
       |  (SELECT nb FROM tot) AS n_tokens_b,
       |  (SELECT nv FROM tot) AS n_vocab
       |FROM terms""".stripMargin)),

    ("q276_ann_lifecycle", (s, d) => {
      // the PERSISTED ANN index lifecycle end-to-end (IvfPq = the
      // PrefixIndex state discipline applied to embeddings): BUILD on
      // the standing corpus (vec_id % 5 != 0), applyDelta the daily
      // append (vec_id % 5 == 0, re-encoding ONLY the batch under the
      // FROZEN base-trained codebooks), then PROBE the persisted codes.
      // The oracle replays the whole lifecycle in SQL — codebooks from
      // the BASE's hash-smallest vectors, codes over base ∪ batch —
      // which is exactly what frozen-codebook determinism guarantees.
      // Like q206, the once-per-rebuild BUILD rides in the timed
      // window by oracle necessity; the delta-only cost was measured
      // separately by the dev main `tools/PqDeltaBench` that commit
      // c6a12ee still has (see COVERAGE.md).
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val batch = emb.filter(col("vec_id") % 5 === 0)
      val st0 = graft.sim.IvfPq.build(base, "vec_id", "embedding",
        nlist = 16, m = 8, k = 16)
      val st1 = graft.sim.IvfPq.applyDelta(st0, batch, "vec_id",
        "embedding")
      graft.sim.IvfPq.probe(st1, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = 4, topK = 5)
    }, Some(ivfAdcSql("WHERE vec_id % 5 <> 0") + "\n" +
      """SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
        |FROM adist
        |QUALIFY rnk <= 5""".stripMargin)),

    ("q277_stream_interval_join", (s, d) =>
      // the stream-stream attribution join (view -> purchase within
      // 1 h), batch-equivalently certified with the q270 staged-
      // micro-batch discipline: both sides split at 2024-01-16 into
      // two micro-batches, so the join must carry LEFT STATE across
      // the batch boundary (a Jan-15 23:xx view matching a Jan-16
      // 00:xx purchase), and batch 2 additionally replays the FIRST
      // DAY's purchases — 13+ days behind the watermark. If the state
      // store accepted those late rows the join would re-emit their
      // attribution pairs and the hash against the clean batch twin
      // would diverge; the match PROVES the expiry. Teeth audited per
      // scale (DuckDB): the late replays would duplicate 2 pairs at
      // sf0.01 (the driver's oracle scale) and 12 at sf0.1; the
      // boundary-crossing left-state carry contributes 2 pairs at
      // sf0.1 — all three scales verified hash-green.
      Replay.withTempRoot("graft_q277_") { tmp =>
        val viewsDir = s"$tmp/views"
        val purchDir = s"$tmp/purch"
        val ev = t(s, d, "events").select("event_id", "ts", "user_id",
          "event_type")
        // each side is staged twice (batch split) — checkpoint the
        // typed projections so the events scan runs once per side,
        // not once per staged batch (measured 25 s -> 9 s at sf0.1
        // together with the 4-file staging below)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"),
            col("event_id").as("view_id"))
          .localCheckpoint(true)
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"))
          .localCheckpoint(true)
        // 4-file staging: each side is a ~1/5 slice of events (tiny
        // even at sf0.1), and the file-stream source pays per-file
        // listing/task overhead ×2 sources ×2 batches — this is NOT
        // the q270 corpus-sized-feed case where coalesce(1) was the
        // funnel; 4 keeps writes parallel while the stream reads
        // dozens of files, not hundreds
        val cut = lit("2024-01-16").cast("timestamp")
        Replay.stage(views.filter(col("view_ts") < cut).coalesce(4),
          viewsDir, 1)
        Replay.stage(purch.filter(col("purchase_ts") < cut).coalesce(4),
          purchDir, 1)
        Replay.drive(s) {
          Streams.streamIntervalJoin(Replay.source(s, viewsDir),
              Replay.source(s, purchDir), "user_id", "view_ts",
              "purchase_ts", watermark = "1 hour", horizon = "1 hour")
            .writeStream.format("parquet")
            .option("path", s"$tmp/out")
            .option("checkpointLocation", s"$tmp/ckpt")
            .outputMode("append").start()
        } { () =>
          Replay.stage(views.filter(col("view_ts") >= cut).coalesce(4),
            viewsDir, 2)
          Replay.stage(purch.filter(col("purchase_ts") >= cut)
            .unionByName(purch.filter(col("purchase_ts") <
              lit("2024-01-02").cast("timestamp"))).coalesce(4), purchDir, 2)
        }
        s.read.parquet(s"$tmp/out")
          .select("user_id", "view_id", "purchase_id", "view_ts",
            "purchase_ts")
          .localCheckpoint(true)
      }, Some("""SELECT v.user_id, v.event_id AS view_id,
       |  p.event_id AS purchase_id, v.ts AS view_ts, p.ts AS purchase_ts
       |FROM events v JOIN events p ON p.user_id = v.user_id
       |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
       |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR"""
      .stripMargin)),

    ("q278_ann_recall", (s, d) => {
      // the ANN quality gate: per-query recall@5 of the IVFADC stack
      // (q129's exact configuration) against the exact squared-L2
      // ranking — the number that tunes nprobe before an index ships
      // and re-audits a persisted IvfPq state after drift. Both
      // rankings and the overlap replay in SQL.
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val qs = emb.filter(col("vec_id") < 5)
      val coarse = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding",
        m = 1, k = 16)
      val pqcb = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 16)
      val ann = graft.sim.Pq.ivfPqTopK(emb, qs, "vec_id", "embedding",
        coarse, pqcb, nprobe = 4, topK = 5)
      val exact = graft.sim.Similarity.bruteTopKL2(emb, qs, "vec_id",
        "embedding", 5)
      graft.sim.Similarity.annRecall(ann, exact)
    }, Some(ivfAdcSql("") + ",\n" +
      s"""ann AS (
         |  SELECT query_id, neighbor_id FROM adist
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY adist, neighbor_id) <= 5),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |      (${pqFullTermsSql("e", "q")}) AS dist
         |    FROM embeddings e
         |    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
         |    WHERE e.vec_id <> q.vec_id)
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY dist, neighbor_id) <= 5)
         |SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS recall
         |FROM exact x LEFT JOIN ann a
         |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
         |GROUP BY 1""".stripMargin)),

    ("q279_cohort_retention", (s, d) =>
      // the product-analytics retention matrix: users join their
      // first-seen week's cohort; cell (cohort, offset) counts
      // distinct users active that many weeks later. One user-keyed
      // min-aggregate + one user-key equi-join (deliberately a shuffle
      // join — the user dimension is not broadcastable at 100 TB) +
      // one (cohort, offset) distinct-count.
      graft.gold.Funnel.cohortRetentionWeekly(
        t(s, d, "events"), "user_id", "ts"),
    Some("""WITH weeks AS (
       |  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
       |  FROM events),
       |coh AS (SELECT u, min(w) AS c FROM weeks GROUP BY 1)
       |SELECT c AS cohort_week, CAST((w - c) // 7 AS BIGINT)
       |    AS week_offset,
       |  CAST(count(DISTINCT u) AS BIGINT) AS n_users
       |FROM weeks JOIN coh USING (u) GROUP BY 1, 2""".stripMargin)),

    ("q280_lexical_diversity", (s, d) =>
      // corpus-health companion to q275's JSD: per-source type-token
      // ratio and hapax fraction — template spam reads low TTR, OCR
      // noise reads hapax ~1. One explode + one (source, token)
      // map-side-combinable aggregate; everything after is
      // vocabulary-domain.
      graft.text.Vocab.lexicalDiversity(
        t(s, d, "documents"), col("source"), "text"),
    Some("""WITH c AS (
       |  SELECT grp, t, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT source AS grp,
       |      unnest(regexp_split_to_array(text, '\s+')) AS t
       |    FROM documents)
       |  GROUP BY 1, 2)
       |SELECT grp AS "group", CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(count(*) AS DOUBLE) / sum(c) AS ttr,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hapax_types,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS hapax_frac
       |FROM c GROUP BY 1""".stripMargin)),

    ("q281_funnel", (s, d) =>
      // ordered view -> click -> purchase conversion: step i counts a
      // user only at-or-after their earliest qualifying step i-1 time,
      // so out-of-order events never inflate conversion; each step is
      // one user-keyed min-aggregate over ITS OWN type's rows joined
      // to the previous step's (monotonically narrowing) user table.
      graft.gold.Funnel.funnelOrdered(
        t(s, d, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")),
    Some("""WITH s1 AS (
       |  SELECT user_id AS u, min(ts) AS t FROM events
       |  WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (
       |  SELECT e.user_id AS u, min(e.ts) AS t
       |  FROM events e JOIN s1 ON s1.u = e.user_id
       |  WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
       |s3 AS (
       |  SELECT e.user_id AS u, min(e.ts) AS t
       |  FROM events e JOIN s2 ON s2.u = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
       |SELECT 1 AS step, 'view' AS step_name,
       |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
       |UNION ALL SELECT 2, 'click',
       |  (SELECT CAST(count(*) AS BIGINT) FROM s2)
       |UNION ALL SELECT 3, 'purchase',
       |  (SELECT CAST(count(*) AS BIGINT) FROM s3)""".stripMargin)),

    ("q282_chi2_independence", (s, d) =>
      // the hypothesis-test companion to q264's MI on the same
      // contingency table: chi2 over the FULL x×y grid (zero-observed
      // cells contribute their expected count), dof, and Cramér's V
      // effect size. One fact-scale (x, y) aggregate, domain-sized
      // closing algebra.
      graft.operators.Quality.chiSquareIndependence(
        t(s, d, "customer"), col("c_nationkey"), col("c_mktsegment")),
    Some("""WITH cells AS (
       |  SELECT c_nationkey AS x, c_mktsegment AS y,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM customer
       |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
       |  GROUP BY 1, 2),
       |xm AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
       |ym AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
       |nx AS (SELECT CAST(count(*) AS BIGINT) AS n_x FROM xm),
       |ny AS (SELECT CAST(count(*) AS BIGINT) AS n_y FROM ym),
       |grid AS (
       |  SELECT xm.cx, ym.cy, CAST(COALESCE(cells.c, 0) AS BIGINT) AS c
       |  FROM xm CROSS JOIN ym
       |  LEFT JOIN cells ON cells.x = xm.x AND cells.y = ym.y),
       |chi AS (
       |  SELECT CAST(sum(CAST(round(
       |      (CAST(c AS DOUBLE) - CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / n)
       |      * (CAST(c AS DOUBLE) - CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / n)
       |      / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / n), 9)
       |    AS DECIMAL(18,6))) AS DOUBLE) AS chi2
       |  FROM grid CROSS JOIN tot)
       |SELECT chi2, (n_x - 1) * (n_y - 1) AS dof, n, n_x, n_y,
       |  CASE WHEN least(n_x, n_y) > 1
       |    THEN round(sqrt(chi2 / (CAST(n AS DOUBLE)
       |      * (least(n_x, n_y) - 1))), 9) END AS cramers_v
       |FROM chi CROSS JOIN tot CROSS JOIN nx CROSS JOIN ny"""
      .stripMargin)),

    ("q283_markov_stationary", (s, d) =>
      // long-run state mix of the session process: 8 power-iteration
      // steps of pi <- pi*P over q197's exact-ppm chain — the summary
      // the per-hop matrix can't give. Fact-scale work is the one
      // user-key window; every step is a |types|^2-grid join.
      graft.operators.Sessionize.stationaryDistribution(
        t(s, d, "events"), "user_id", "ts", "event_type",
        Seq(col("event_id").asc), iters = 8),
    Some {
      val steps = (1 to 8).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT dst_type AS t,
           |    CAST(sum(CAST(round(prob * prob_ppm / 1000000.0, 9)
           |      AS DECIMAL(18,6))) AS DOUBLE) AS prob
           |  FROM pfull JOIN p${i - 1} ON p${i - 1}.t = pfull.src_type
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS (
         |  SELECT event_type AS src_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS dst_type
         |  FROM events),
         |pc AS (
         |  SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n
         |  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2),
         |ptot AS (SELECT src_type, CAST(sum(n) AS BIGINT) AS t
         |  FROM pc GROUP BY 1),
         |pm AS (SELECT src_type, dst_type, n * 1000000 // t AS prob_ppm
         |  FROM pc JOIN ptot USING (src_type)),
         |types AS MATERIALIZED (
         |  SELECT DISTINCT src_type AS t FROM pm
         |  UNION SELECT DISTINCT dst_type FROM pm),
         |pfull AS MATERIALIZED (
         |  SELECT * FROM pm
         |  UNION ALL
         |  SELECT t, t, CAST(1000000 AS BIGINT) FROM types
         |  WHERE t NOT IN (SELECT src_type FROM pm)),
         |p0 AS (
         |  SELECT t, round(1.0 /
         |    (SELECT CAST(count(*) AS DOUBLE) FROM types), 9) AS prob
         |  FROM types),
         |$steps
         |SELECT types.t AS event_type, COALESCE(prob, 0.0) AS prob
         |FROM types LEFT JOIN p8 ON p8.t = types.t""".stripMargin
    }),

    ("q284_zipf_fit", (s, d) =>
      // is the corpus head actually Zipfian? OLS of ln(freq) on
      // ln(rank) over the top-1000 tokens: slope ~ -s. Fact-scale work
      // is the vocab aggregate; the rank window runs over the
      // 1000-row TakeOrdered head (the B-rows exception).
      graft.text.Vocab.zipfFit(t(s, d, "documents"), "doc_id", "text",
        topN = 1000),
    Some("""WITH v AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
       |    FROM documents)
       |  GROUP BY 1),
       |head AS (SELECT token, f FROM v ORDER BY f DESC, token LIMIT 1000),
       |ranked AS (
       |  SELECT round(ln(CAST(row_number() OVER (ORDER BY f DESC, token)
       |      AS DOUBLE)), 9) AS x,
       |    round(ln(CAST(f AS DOUBLE)), 9) AS y
       |  FROM head),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(x, 9) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(round(y, 9) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(18,6))) AS DOUBLE) AS syy
       |  FROM ranked)
       |SELECT n,
       |  CASE WHEN n * sxx - sx * sx > 0
       |    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
       |    END AS slope,
       |  CASE WHEN n * sxx - sx * sx > 0
       |    THEN round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
       |      * sx) / n, 9)
       |    END AS intercept,
       |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       |    THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
       |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
       |    END AS r2
       |FROM s""".stripMargin)),

    ("q285_roc_auc", (s, d) =>
      // the classifier-audit yardstick: exact midrank Mann-Whitney
      // AUC of order price against fulfillment status. One fact-scale
      // (score -> pos/neg counts) aggregate, then Ranks.prefixSum for
      // the below-score negative mass (a continuous score's distinct
      // support is fact-scale — a global ORDER BY window would
      // single-task it), one closing ungrouped aggregate; the numer
      // folds in DECIMAL (LONG overflows at 10^12 rows per class).
      graft.operators.Experiment.rocAuc(t(s, d, "orders"),
        col("o_orderstatus") === "F", col("o_totalprice")),
    Some("""WITH s AS (
       |  SELECT CAST(o_totalprice AS DOUBLE) AS sc,
       |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
       |      AS BIGINT) AS q
       |  FROM orders
       |  WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
       |  GROUP BY 1),
       |pre AS (
       |  SELECT p, q, COALESCE(CAST(sum(q) OVER (ORDER BY sc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    CAST(0 AS BIGINT)) AS qb
       |  FROM s),
       |t AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
       |  CAST(sum(q) AS BIGINT) AS n_neg,
       |  sum(p * (2 * qb + q)) AS numer2 FROM pre)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0
       |    THEN round(CAST(numer2 AS DOUBLE) / (2.0 * n_pos * n_neg), 9)
       |    END AS auc
       |FROM t""".stripMargin)),

    ("q286_kaplan_meier", (s, d) =>
      // censoring-correct user-lifetime curve: users last active more
      // than 7 days before the corpus edge churned (death at their
      // first->last span); anyone active within the horizon is
      // censored. One user-keyed min/max aggregate; the product-limit
      // closing runs on the distinct-duration table (day-domain, the
      // B-rows exception), log-grain rounded at 12 dp before the
      // exact decimal cumulative sum (the q284 ln discipline), with a
      // running min(n-d)=0 guard pinning the everyone-dies step to
      // exact 0 (Spark ln(0) is NULL, DuckDB -inf — neither reaches
      // the output).
      graft.operators.Survival.kaplanMeier(t(s, d, "events"),
        "user_id", "ts", horizonDays = 7),
    Some("""WITH peru AS (
       |  SELECT user_id, min(CAST(ts AS DATE)) AS f,
       |    max(CAST(ts AS DATE)) AS l
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1),
       |edge AS (SELECT max(l) AS mx FROM peru),
       |lab AS (
       |  SELECT CAST(l - f AS BIGINT) AS dur,
       |    CASE WHEN mx - l > 7 THEN 1 ELSE 0 END AS ev
       |  FROM peru CROSS JOIN edge),
       |agg AS (SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
       |    CAST(count(*) - sum(ev) AS BIGINT) AS c FROM lab GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab),
       |risk AS (
       |  SELECT dur, d, c,
       |    CAST(n - COALESCE(sum(d + c) OVER (ORDER BY dur
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      CAST(0 AS BIGINT)) AS BIGINT) AS nr
       |  FROM agg CROSS JOIN tot)
       |SELECT dur AS duration_days, nr AS n_risk, d AS n_events,
       |  c AS n_censored,
       |  CASE WHEN min(nr - d) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0
       |    THEN 0.0
       |    ELSE round(exp(COALESCE(CAST(sum(CASE WHEN d < nr THEN
       |          CAST(round(ln(1 - CAST(d AS DOUBLE) / nr), 12)
       |            AS DECIMAL(18,12)) END)
       |        OVER (ORDER BY dur
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        AS DOUBLE), 0.0)), 9) END AS survival
       |FROM risk""".stripMargin)),

    ("q287_bootstrap_ci", (s, d) =>
      // the error bar a 100 TB mean ships with: deterministic
      // Poisson-bootstrap CI — per-(row, replicate) Poisson(1)
      // weights from the seeded portable hash (pure function of the
      // data; the oracle replays it exactly), ONE fact-scale pass
      // whose explode collapses map-side (the shuffle carries <= b
      // rows per partition), nearest-rank quantile pair on the b-row
      // replicate table.
      graft.operators.Experiment.bootstrapMeanCI(t(s, d, "lineitem"),
        col("l_orderkey") * 10 + col("l_linenumber"),
        col("l_extendedprice"), b = 64, seed = 11L),
    Some("""WITH base AS (
       |  SELECT l_orderkey * 10 + l_linenumber AS id,
       |    CAST(l_extendedprice AS DECIMAL(18,6)) AS x
       |  FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
       |    AND l_extendedprice IS NOT NULL),
       |ov AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(x) AS DOUBLE) / count(*), 9) AS mean FROM base),
       |rep AS (
       |  SELECT r.j, x,
       |    ((((id % 100000007) * (2654435761 + 11 + r.j)) % 99999989)
       |      * 2246822519) % 1000000 AS u
       |  FROM base CROSS JOIN range(64) r(j)),
       |wt AS (SELECT j, x,
       |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
       |      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
       |      WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
       |      WHEN u < 999917 THEN 6 ELSE 7 END AS w
       |  FROM rep),
       |m AS (SELECT j, CASE WHEN sum(w) > 0 THEN
       |    round(CAST(sum(CAST(w * x AS DECIMAL(18,6))) AS DOUBLE)
       |      / sum(w), 9) END AS m
       |  FROM wt GROUP BY 1),
       |ok AS (SELECT j, m FROM m WHERE m IS NOT NULL),
       |be AS (SELECT CAST(count(*) AS BIGINT) AS beff FROM ok),
       |rk AS (SELECT m, row_number() OVER (ORDER BY m, j) AS r FROM ok),
       |ci AS (SELECT
       |    max(CASE WHEN r = (beff * 25000 + 999999) // 1000000
       |      THEN m END) AS ci_lo,
       |    max(CASE WHEN r = beff - ((beff * 25000 + 999999) // 1000000)
       |        + 1 THEN m END) AS ci_hi,
       |    COALESCE(max(beff), CAST(0 AS BIGINT)) AS b_eff
       |  FROM rk CROSS JOIN be)
       |SELECT n, CASE WHEN n > 0 THEN mean END AS mean,
       |  ci_lo, ci_hi, b_eff
       |FROM ov CROSS JOIN ci""".stripMargin))
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q08_daily_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = registry.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(o)) => n -> o }.toMap
}
