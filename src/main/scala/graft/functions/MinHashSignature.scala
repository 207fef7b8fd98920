package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression computing a k-wide MinHash signature over
  * token `shingleN`-gram shingles in ONE pass — with `doGenCode`, so
  * the whole signature stays inside whole-stage codegen.
  *
  * The input is the TOKEN array; shingles never materialize as strings.
  * Each token is XXH64-hashed once (same hash family as the built-in
  * `xxhash64`), a rolling window of `shingleN` token hashes combines
  * via chained `XXH64.hashLong`, and each window hash updates k
  * permutation minima in a tight loop.
  *
  * Why custom: the built-in route is per-row string building for every
  * shingle (`transform`+`slice`+`concat_ws`, interpreted) followed by k
  * higher-order `aggregate` folds (also interpreted — HOFs don't
  * participate in codegen). This is the one hot path in the engine
  * where built-ins genuinely can't express the computation efficiently
  * — exactly the case SURVEY §7.3 reserves for a custom Expression.
  *
  * Permutations are (a_i*h + b_i) mod P with P prime and h pre-reduced
  * mod P, so no long overflow (ANSI-safe).
  */
case class MinHashSignature(child: Expression, k: Int, shingleN: Int)
    extends UnaryExpression {

  import MinHashSignature._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  private lazy val (permA, permB) = permConstants(k)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val th = new Array[Long](n)
    var j = 0
    while (j < n) {
      th(j) =
        if (arr.isNullAt(j)) Seed
        else XXH64.hashUTF8String(arr.getUTF8String(j), Seed)
      j += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    val span = math.min(shingleN, math.max(n, 1))
    val windows = math.max(n - span + 1, if (n > 0) 1 else 0)
    var w = 0
    while (w < windows) {
      var h = Seed
      var g = 0
      while (g < span && w + g < n) { h = XXH64.hashLong(th(w + g), h); g += 1 }
      val hm = ((h % P) + P) % P
      var i = 0
      while (i < k) {
        val v = (hm * permA(i) + permB(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("graftMinhashA", permA, "long[]")
    val bRef = ctx.addReferenceObj("graftMinhashB", permB, "long[]")
    val xxh = classOf[XXH64].getName
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val th = ctx.freshName("th")
      val mins = ctx.freshName("mins")
      val span = ctx.freshName("span")
      val windows = ctx.freshName("windows")
      val w = ctx.freshName("w")
      val g = ctx.freshName("g")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val hm = ctx.freshName("hm")
      val v = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |long[] $th = new long[$n];
         |for (int $j = 0; $j < $n; $j++) {
         |  $th[$j] = $c.isNullAt($j)
         |    ? ${Seed}L
         |    : $xxh.hashUTF8String($c.getUTF8String($j), ${Seed}L);
         |}
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |int $span = Math.min($shingleN, Math.max($n, 1));
         |int $windows = Math.max($n - $span + 1, $n > 0 ? 1 : 0);
         |for (int $w = 0; $w < $windows; $w++) {
         |  long $h = ${Seed}L;
         |  for (int $g = 0; $g < $span && $w + $g < $n; $g++) {
         |    $h = $xxh.hashLong($th[$w + $g], $h);
         |  }
         |  long $hm = (($h % ${P}L) + ${P}L) % ${P}L;
         |  for (int $i = 0; $i < $k; $i++) {
         |    long $v = ($hm * $aRef[$i] + $bRef[$i]) % ${P}L;
         |    if ($v < $mins[$i]) $mins[$i] = $v;
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {

  /** Permutation modulus: prime, small enough that a*h+b stays in a
    * long. Shared by everything MinHash in this engine.
    */
  val P = 1000000007L

  /** XXH64 seed — same default as the built-in `xxhash64`. */
  val Seed = 42L

  /** Deterministic permutation constants in [1, P) / [0, P). */
  def permConstants(k: Int): (Array[Long], Array[Long]) = {
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = ((0x9E3779B97F4A7C15L * (i + 1)) & Long.MaxValue) % (P - 1) + 1
      b(i) = ((0xBF58476D1CE4E5B9L * (i + 3)) & Long.MaxValue) % P
      i += 1
    }
    (a, b)
  }

  /** DataFrame-API entry: k-wide MinHash signature over token n-gram
    * shingles of a token array. Resolves through the function registry,
    * so the session must carry [[GraftExtensions]] (all graft entry
    * points do).
    */
  def signature(tokens: Column, k: Int, shingleN: Int = 3): Column =
    call_function("graft_minhash", tokens, lit(k), lit(shingleN))
}

/** SparkSessionExtensions entry point — makes `graft_minhash` available
  * both to SQL and to `call_function`. Wire it with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(
        classOf[MinHashSignature].getName, null, "graft_minhash",
        "graft_minhash(tokens, k, shingleN) - k-wide MinHash signature over " +
          "token n-gram shingles.",
        ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(arr, k, n) =>
            MinHashSignature(arr, intLit(k, "k"), intLit(n, "shingleN"))
          case Seq(arr, k) => MinHashSignature(arr, intLit(k, "k"), 3)
          case Seq(arr) => MinHashSignature(arr, 64, 3)
          case other => throw new IllegalArgumentException(
            s"graft_minhash(array<string>[, k[, shingleN]]) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_portable"),
      new ExpressionInfo(
        classOf[PortableMinHash].getName, null, "graft_minhash_portable",
        "graft_minhash_portable(tokens, k, shingleN) - k-wide " +
          "SQL-replayable MinHash signature (rolling-hash shingles, " +
          "universal (a*s+b) mod p minima).",
        ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(arr, k, n) =>
            PortableMinHash(arr, intLit(k, "k"), intLit(n, "shingleN"))
          case Seq(arr, k) => PortableMinHash(arr, intLit(k, "k"), 3)
          case other => throw new IllegalArgumentException(
            s"graft_minhash_portable(array<string>, k[, shingleN]) — " +
              s"got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_portable"),
      new ExpressionInfo(
        classOf[PortableSimHash].getName, null, "graft_simhash_portable",
        "graft_simhash_portable(tokens) - 60-bit SQL-replayable SimHash " +
          "(rolling-hash votes through two universal expansions).", ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(arr) => PortableSimHash(arr)
          case other => throw new IllegalArgumentException(
            s"graft_simhash_portable(tokens) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(
        classOf[ArrayDot].getName, null, "graft_dot",
        "graft_dot(a, b) - dot product of two array<double> vectors.", ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(a, b) => ArrayDot(a, b)
          case other => throw new IllegalArgumentException(
            s"graft_dot(a, b) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_centroid_scores"),
      new ExpressionInfo(
        classOf[CentroidScores].getName, null, "graft_centroid_scores",
        "graft_centroid_scores(vec, matrix) - per-centroid normalized dot " +
          "scores of a vector against a literal centroid matrix.",
        ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(vec, m) => CentroidScores(vec, m)
          case other => throw new IllegalArgumentException(
            s"graft_centroid_scores(vec, matrix) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(
        classOf[RollingHash].getName, null, "graft_rolling_hash",
        "graft_rolling_hash(text) - polynomial rolling hash " +
          "(base 31 mod 1e9+7) over the string's code points.", ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(s) => RollingHash(s)
          case other => throw new IllegalArgumentException(
            s"graft_rolling_hash(text) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(
        classOf[NfcNormalize].getName, null, "graft_nfc",
        "graft_nfc(text) - Unicode NFC normalization (UAX #15), " +
          "codegen'd with an isNormalized fast path.", ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(s) => NfcNormalize(s)
          case other => throw new IllegalArgumentException(
            s"graft_nfc(text) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(
        classOf[JaroWinkler].getName, null, "graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler string similarity " +
          "(prefix boost above jaro 0.7, DuckDB-compatible conventions).",
        ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(a, b) => JaroWinkler(a, b)
          case other => throw new IllegalArgumentException(
            s"graft_jaro_winkler(a, b) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        null, "graft_bloom_agg",
        "graft_bloom_agg(key, expectedItems, numBits) - serialized Bloom " +
          "filter sketch of a long column (Spark's internal " +
          "bloom_filter_agg, not exposed in the public registry).", ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(key, items, bits) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate
              .BloomFilterAggregate(key, items, bits)
          case other => throw new IllegalArgumentException(
            s"graft_bloom_agg(key, expectedItems, numBits) — got ${other.size} args")
        }
      }))
    // The probes take the sketch as a FOLDABLE binary expression and
    // evaluate it to a constructor field at resolution time — a multi-MB
    // sketch must not live inside a Literal child, where the O(length)
    // Literal.hashCode/equals is rescanned by every tree-hashing rule
    // (measured ~180 s of driver time on a 10 s job; see CmsProbe doc).
    def foldedBytes(e: Expression, what: String): Array[Byte] = {
      if (!e.foldable) throw new IllegalArgumentException(
        s"$what must be a foldable binary expression (a literal sketch)")
      // Type-check before the cast: a foldable non-binary argument
      // (e.g. graft_bloom_probe('abc', key) from SQL) must fail with
      // the same descriptive error, not an opaque ClassCastException
      // at resolution.
      e.dataType match {
        case org.apache.spark.sql.types.BinaryType |
            org.apache.spark.sql.types.NullType =>
        case other => throw new IllegalArgumentException(
          s"$what must be a BINARY sketch, got ${other.simpleString}")
      }
      e.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow)
        .asInstanceOf[Array[Byte]]
    }
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_probe"),
      new ExpressionInfo(
        classOf[BloomProbe].getName, null, "graft_bloom_probe",
        "graft_bloom_probe(sketch, key) - might-contain probe of a long " +
          "key against a graft_bloom_agg sketch; false (never null) on " +
          "null sketch or key.", ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(sketch, key) =>
            BloomProbe(foldedBytes(sketch, "sketch"), key)
          case other => throw new IllegalArgumentException(
            s"graft_bloom_probe(sketch, key) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cms_probe"),
      new ExpressionInfo(
        classOf[CmsProbe].getName, null, "graft_cms_probe",
        "graft_cms_probe(sketch, key) - count estimate of a bigint or " +
          "string key against a count_min_sketch aggregate; 0 (never " +
          "null) on null sketch or key.", ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(sketch, key) =>
            CmsProbe(foldedBytes(sketch, "sketch"), key)
          case other => throw new IllegalArgumentException(
            s"graft_cms_probe(sketch, key) — got ${other.size} args")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_srp_buckets"),
      new ExpressionInfo(
        classOf[SrpSignatures].getName, null, "graft_srp_buckets",
        "graft_srp_buckets(vec, bits, dim, tables[, seed]) - multi-table " +
          "SRP-LSH buckets; seed >= 0 selects portable-hash planes.",
        ""),
      { exprs: Seq[Expression] =>
        def longLit(e: Expression, what: String): Long = e match {
          case Literal(v: Long, _) => v
          case Literal(v: Int, _) => v.toLong
          case other => throw new IllegalArgumentException(
            s"$what must be an integer literal, got $other")
        }
        exprs match {
          case Seq(vec, b, d, t) =>
            SrpSignatures(vec, intLit(b, "bits"), intLit(d, "dim"), intLit(t, "tables"))
          case Seq(vec, b, d, t, s) =>
            SrpSignatures(vec, intLit(b, "bits"), intLit(d, "dim"),
              intLit(t, "tables"), longLit(s, "seed"))
          case other => throw new IllegalArgumentException(
            s"graft_srp_buckets(vec, bits, dim, tables[, seed]) — got ${other.size} args")
        }
      }))
  }
}
