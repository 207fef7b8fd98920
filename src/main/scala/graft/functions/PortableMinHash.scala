package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native one-pass k-wide PORTABLE MinHash signature — the one
  * MinHash of the engine ([[graft.dedup.NearDup.minhashSignatures]]),
  * with arithmetic DuckDB reproduces exactly:
  * token hash = [[RollingHash]]'s codepoint ×31 fold mod 1e9+7,
  * shingle hash = the same ×31 fold over `shingleN` token hashes,
  * minima over the universal family (aᵢ·s + bᵢ) mod 1e9+7 with aᵢ, bᵢ
  * from the two-round multiplicative recipe ([[PortableMinHash.constants]]).
  *
  * Why custom: the first formulation (r10) built shingles with a
  * `transform` HOF and aggregated k minima through an explode +
  * 16-min groupBy — HOFs are CodegenFallback, so every token hashed
  * interpreted, and the explode shuffled token-instance-scale rows
  * (measured 27 s at sf0.1). This expression computes the whole
  * signature per ROW inside whole-stage codegen — signatures are a
  * pure projection (no shuffle at all).
  *
  * Documents with fewer than `shingleN` tokens have no shingles and
  * return an EMPTY array (callers explode/filter them away — the same
  * drop contract as `gramJaccardVerify`).
  */
case class PortableMinHash(child: Expression, k: Int, shingleN: Int)
    extends UnaryExpression {

  import PortableMinHash._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_portable"

  private lazy val (permA, permB) = constants(k)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val windows = n - shingleN + 1
    if (windows <= 0) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var j = 0
    while (j < n) {
      th(j) =
        if (arr.isNullAt(j)) 0L
        else RollingHash.hash(arr.getUTF8String(j).toString)
      j += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    var w = 0
    while (w < windows) {
      var s = 0L
      var g = 0
      while (g < shingleN) { s = (s * 31L + th(w + g)) % Mod; g += 1 }
      var i = 0
      while (i < k) {
        val v = (permA(i) * s + permB(i)) % Mod
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("graftPmhA", permA, "long[]")
    val bRef = ctx.addReferenceObj("graftPmhB", permB, "long[]")
    val rh = RollingHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val th = ctx.freshName("th")
      val mins = ctx.freshName("mins")
      val windows = ctx.freshName("windows")
      val w = ctx.freshName("w")
      val g = ctx.freshName("g")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |int $windows = $n - $shingleN + 1;
         |if ($windows <= 0) {
         |  ${ev.value} = new $gad(new long[0]);
         |} else {
         |  long[] $th = new long[$n];
         |  for (int $j = 0; $j < $n; $j++) {
         |    $th[$j] = $c.isNullAt($j)
         |      ? 0L
         |      : $rh.hash($c.getUTF8String($j).toString());
         |  }
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $w = 0; $w < $windows; $w++) {
         |    long $s = 0L;
         |    for (int $g = 0; $g < $shingleN; $g++) {
         |      $s = ($s * 31L + $th[$w + $g]) % ${Mod}L;
         |    }
         |    for (int $i = 0; $i < $k; $i++) {
         |      long $v = ($aRef[$i] * $s + $bRef[$i]) % ${Mod}L;
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |  ${ev.value} = new $gad($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PortableMinHash =
    copy(child = newChild)
}

object PortableMinHash {

  /** Rolling/shingle/permutation modulus — [[RollingHash.Mod]]. */
  val Mod: Long = RollingHash.Mod

  /** The universal-family constants: aᵢ = (i+1)·2654435761 mod
    * 999999937 + 1, bᵢ = (i+1)·2246822519 mod 999999937 — the same
    * two-round multiplicative recipe as the q136 LSH planes, replayed
    * verbatim in the q183/q184 oracles' `hf` CTE.
    */
  def constants(k: Int): (Array[Long], Array[Long]) = {
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = (i + 1) * 2654435761L % 999999937L + 1
      b(i) = (i + 1) * 2246822519L % 999999937L
      i += 1
    }
    (a, b)
  }

  /** DataFrame-API entry (registry resolution via [[GraftExtensions]]). */
  def minima(tokens: Column, k: Int, shingleN: Int = 3): Column =
    call_function("graft_minhash_portable", tokens, lit(k), lit(shingleN))
}
