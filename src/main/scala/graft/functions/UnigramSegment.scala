package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi-best unigram-LM segmentation of a word under a fixed piece
  * score table — the decode step of a SentencePiece-style tokenizer
  * (Kudo 2018). One native DP pass per word; the vocabulary rides as a
  * constructor FIELD (the PqCodes/CmsProbe pattern: hashes by
  * identity, ships once in the task binary), so scoring a trillion
  * token instances is a codegen'd map-side projection over the
  * DISTINCT-word table.
  *
  * Determinism contract (replayed exactly by the q167/q168 SQL
  * oracles): piece scores are integer NANO-log-probs, so path costs
  * are exact BIGINT sums — no float-accumulation order anywhere — and
  * among maximum-cost segmentations the one whose space-joined piece
  * string is lexicographically SMALLEST wins (suffix-minimality is
  * compositional, so the right-to-left DP's local tiebreak equals the
  * global path-string order; ASCII assumed — UTF-16 vs UTF-8 byte
  * order diverges outside it).
  *
  * A word not coverable by the vocabulary yields null (seed vocabs
  * keep every single character precisely so this never fires).
  */
case class UnigramSegment(child: Expression, vocab: Map[String, Long],
                          maxPieceLen: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_unigram_segment"

  /** Shared by eval and codegen. */
  def segment(word: UTF8String): ArrayData = {
    val s = word.toString
    val n = s.length
    if (n == 0) return null
    val cost = new Array[Long](n + 1)
    val path = new Array[String](n + 1)
    cost(n) = 0L
    path(n) = ""
    var i = n - 1
    while (i >= 0) {
      var bestCost = Long.MinValue
      var bestPath: String = null
      val maxL = math.min(maxPieceLen, n - i)
      var l = 1
      while (l <= maxL) {
        if (path(i + l) != null) {
          val piece = s.substring(i, i + l)
          val sc = vocab.getOrElse(piece, Long.MinValue)
          if (sc != Long.MinValue) {
            val c = sc + cost(i + l)
            val p = if (path(i + l).isEmpty) piece
                    else piece + " " + path(i + l)
            if (bestPath == null || c > bestCost ||
                (c == bestCost && p.compareTo(bestPath) < 0)) {
              bestCost = c
              bestPath = p
            }
          }
        }
        l += 1
      }
      cost(i) = bestCost
      path(i) = bestPath
      i -= 1
    }
    if (path(0) == null) null
    else new GenericArrayData(
      path(0).split(" ").map(UTF8String.fromString(_): Any))
  }

  override protected def nullSafeEval(input: Any): Any =
    segment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftUniSeg", this,
      classOf[UnigramSegment].getName)
    nullSafeCodeGen(ctx, ev, w => {
      val tmp = ctx.freshName("segOut")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp = $ref.segment($w);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  }

  /** An uncoverable or empty word yields null even from a non-null
    * child, so codegen must declare a nullable result slot.
    */
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): UnigramSegment = copy(child = newChild)
}

object UnigramSegment {
  /** DataFrame-API entry (field-based — no SQL registration needed;
    * construct via the Column wrapper like PqCodes).
    */
  def of(word: Column, vocab: Map[String, Long], maxPieceLen: Int): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      UnigramSegment(
        org.apache.spark.sql.graftshim.ColumnShim.expression(word),
        vocab, maxPieceLen))
}
