package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point — makes the `graft_*` functions
  * available both to SQL and to `call_function`. Wire it with
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
        "graft_srp_buckets(vec, bits, dim, tables) - multi-table " +
          "SRP-LSH buckets over portable-hash planes.",
        ""),
      { exprs: Seq[Expression] =>
        exprs match {
          case Seq(vec, b, d, t) =>
            SrpSignatures(vec, intLit(b, "bits"), intLit(d, "dim"), intLit(t, "tables"))
          case other => throw new IllegalArgumentException(
            s"graft_srp_buckets(vec, bits, dim, tables) — got ${other.size} args")
        }
      }))
  }
}
