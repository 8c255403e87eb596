package graft.store

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) bit interleave: one sort key that keeps rows close
  * in ANY of several dimensions close in key order, so parquet footer
  * min/max stats would skip most files for selective filters on each
  * interleaved column. The same layout idea the reference leans on
  * Athena partition projection for
  * (terraform/modules/athena/main.tf:36-49), generalized from one date
  * dimension to N. The store writes no z-ordered layout; gate q203
  * pins the bit math against an oracle that rebuilds it from shifts
  * and masks.
  */
object ZOrder {

  /** Interleave the low `bits` bits of the given non-negative int
    * columns, lowest significance first: result bit (i*n + j) is bit i
    * of column j. Columns must already be scaled to [0, 2^bits).
    */
  def interleave(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1, "interleave needs at least one column")
    require(n * bits <= 63, s"$n columns x $bits bits exceeds a signed long")
    val terms =
      for (i <- 0 until bits; (c, j) <- cols.zipWithIndex)
        yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ + _)
  }
}
