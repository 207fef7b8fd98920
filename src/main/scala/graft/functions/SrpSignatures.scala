package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import graft.operators.Sample

/** Native Catalyst expression computing ALL multi-table
  * signed-random-projection LSH bucket signatures of an embedding in one
  * pass: for each of `tables` hash tables and each of `bits` planes
  * (entries ±1), accumulate the signed sum over the vector's dimensions
  * and pack the sign bits — `tables × bits × dim` fused multiply-adds
  * inside whole-stage codegen, instead of `tables × bits` interpreted
  * `zip_with` + `aggregate` folds each walking the whole vector.
  *
  * Output: array<long> of length `tables`; element t is the bucket of
  * hash table t (bit b set when projection b is `>= 0`).
  *
  * Planes are engine-portable: the sign of plane coordinate
  * `(t·bits + b)·dim + d` is [[graft.operators.Sample.planeSign]] at
  * [[SrpSignatures.Seed]] — plain integer arithmetic any SQL engine
  * replays, and the projection is the ascending-dim left fold, so an
  * oracle re-derives every bucket and the SRP-LSH queries (q136, q223,
  * q235, q248, q256) are hash-checked end to end.
  */
case class SrpSignatures(child: Expression, bits: Int, dim: Int, tables: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_srp_buckets"

  // signs(t)(b*dim + d) ∈ {-1, +1}: the portable hash of the coordinate
  private lazy val signs: Array[Array[Byte]] = Array.tabulate(tables) { t =>
    Array.tabulate(bits * dim) { bd =>
      Sample.planeSign(t.toLong * bits * dim + bd, SrpSignatures.Seed).toByte
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(dim, arr.numElements())
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val s = signs(t)
      var bucket = 0L
      var b = 0
      while (b < bits) {
        var proj = 0.0
        var d = 0
        while (d < n) {
          proj += arr.getDouble(d) * s(b * dim + d)
          d += 1
        }
        if (proj >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("graftSrpSigns", signs, "byte[][]")
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val proj = ctx.freshName("proj")
      val bucket = ctx.freshName("bucket")
      s"""
         |long[] $out = new long[$tables];
         |int $n = Math.min($dim, $c.numElements());
         |for (int $t = 0; $t < $tables; $t++) {
         |  byte[] $s = $signsRef[$t];
         |  long $bucket = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    double $proj = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      $proj += $c.getDouble($d) * $s[$b * $dim + $d];
         |    }
         |    if ($proj >= 0) $bucket |= (1L << $b);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSignatures =
    copy(child = newChild)
}

object SrpSignatures {
  /** The plane seed every oracle replays (`Mult + 7 = 2654435768`). */
  private[graft] val Seed = 7L

  /** DataFrame-API entry (vector must be array<double>). Resolves via
    * the registry; the session must carry [[GraftExtensions]].
    */
  def buckets(vec: Column, bits: Int, dim: Int, tables: Int): Column =
    call_function("graft_srp_buckets", vec, lit(bits), lit(dim), lit(tables))
}
