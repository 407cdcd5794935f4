package graft.expressions

/**
 * Morton (Z-order) interleave of two keys — the space-filling-curve
 * clustering key behind multi-dimensional data skipping: sorting a table
 * by `graft_zorder(x, y)` keeps BOTH x-locality and y-locality inside each
 * file/row group, so parquet min/max stats prune scans filtered on either
 * column (1-D range clustering, q_clusterby, prunes only its sort column).
 *
 * Each input contributes its low [[ZOrder.Bits]] bits (21 → a 42-bit
 * code, non-negative in a long). Inputs are masked, not range-checked:
 * clustering only needs a consistent total order, and masking keeps the
 * function total over all longs. `graft_zorder`'s row function — one
 * call per row, the loop itself JITs flat.
 */
object ZOrder {
  val Bits: Int  = 21
  val Mask: Long = (1L << Bits) - 1

  def interleave(x: Long, y: Long): Long = {
    val mx = x & Mask
    val my = y & Mask
    var z  = 0L
    var i  = 0
    while (i < Bits) {
      z |= ((mx >> i) & 1L) << (2 * i)
      z |= ((my >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}
