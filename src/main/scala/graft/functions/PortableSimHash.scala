package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Native 60-bit PORTABLE SimHash — per-occurrence ±1 votes per
  * signature bit, with bit sources DuckDB reproduces exactly: each
  * token's [[RollingHash]] fold expands through TWO universal hashes
  * h₁ = (a₁·h + b₁) mod p, h₂ = (a₂·h + b₂) mod p (the
  * [[PortableMinHash]] constant recipe, i = 0 and 1); signature bit
  * i < 30 votes with bit i of h₁, bit i ≥ 30 with bit i−30 of h₂ (both
  * hashes < 2^30, so 60 well-mixed bits total). Ties (vote sum 0, incl.
  * the empty token array) pin to 0. One codegen'd pass per row — a pure
  * projection, no shuffle.
  */
case class PortableSimHash(child: Expression) extends UnaryExpression {

  import PortableSimHash._

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_portable"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](Bits)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = RollingHash.hash(arr.getUTF8String(j).toString)
        val h1 = (A1 * h + B1) % Mod
        val h2 = (A2 * h + B2) % Mod
        var i = 0
        while (i < Half) {
          if (((h1 >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          if (((h2 >>> i) & 1L) == 1L) votes(Half + i) += 1
          else votes(Half + i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < Bits) { if (votes(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rh = RollingHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[$Bits];
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  if (!$c.isNullAt($j)) {
         |    long $h = $rh.hash($c.getUTF8String($j).toString());
         |    long $h1 = (${A1}L * $h + ${B1}L) % ${Mod}L;
         |    long $h2 = (${A2}L * $h + ${B2}L) % ${Mod}L;
         |    for (int $i = 0; $i < $Half; $i++) {
         |      if ((($h1 >>> $i) & 1L) == 1L) $votes[$i]++; else $votes[$i]--;
         |      if ((($h2 >>> $i) & 1L) == 1L) $votes[$Half + $i]++;
         |      else $votes[$Half + $i]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $i = 0; $i < $Bits; $i++) {
         |  if ($votes[$i] > 0) $sig |= (1L << $i);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PortableSimHash =
    copy(child = newChild)
}

object PortableSimHash {

  val Bits = 60
  val Half = 30
  val Mod: Long = RollingHash.Mod

  /** i = 0 and 1 of the [[PortableMinHash.constants]] recipe —
    * duplicated as plain literals for codegen; a unit pins equality.
    */
  val A1: Long = 1 * 2654435761L % 999999937L + 1
  val B1: Long = 1 * 2246822519L % 999999937L
  val A2: Long = 2 * 2654435761L % 999999937L + 1
  val B2: Long = 2 * 2246822519L % 999999937L

  def simhash(tokens: Column): Column =
    call_function("graft_simhash_portable", tokens)
}
