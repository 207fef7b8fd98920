package graft.maintenance

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Write-layout clustering for data skipping. Parquet min/max footer
  * stats prune files only when rows with nearby key values land in the
  * same files; a Z-order (Morton) key gives one sort dimension that
  * preserves locality in TWO dimensions at once, so a table written
  * range-partitioned and sorted by it lets range predicates on either
  * column skip most files. This is the layout move that turns a
  * 100 TB full-scan table into a pruned scan for both `user_id = ?` and
  * time-window queries — entirely with arithmetic built-ins, computed
  * inside whole-stage codegen.
  */
object Layout {

  /** Spread the low 16 bits of `c` to even bit positions 0,2,..,30 —
    * the classic mask-and-shift ladder (public-domain "Interleave bits
    * by Binary Magic Numbers" technique).
    */
  private[maintenance] def spread16(c: Column): Column = {
    val m = c.bitwiseAND(lit(0xFFFFL))
    val s1 = m.bitwiseOR(shiftleft(m, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key interleaving the low 16 bits of two columns
    * (a in even positions, b in odd).
    */
  def zorder2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))
}
