package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/*
 * Row functions of the compiled-model ANN kernels (`graft_centroid_argmin`,
 * `graft_coarse_prune`, `graft_pq_encode`, `graft_adc_table`, `graft_adc`,
 * `graft_adc_dyn`, `graft_residual`; entries of [[graft.GraftExtensions.table]],
 * each run by one [[Kernel]] node).
 *
 * They exist for one reason, the inline-expression JIT cliff: building
 * the same math out of per-row Catalyst expressions (c distance
 * expressions plus a c-wide `array_min`/`array_position`, or `zip_with` +
 * `aggregate` higher-order functions) is semantically exact but physically
 * interpreted — the generated whole-stage methods cross HotSpot's JIT size
 * ceiling (DontCompileHugeMethods, 8 KB bytecode) or never codegen at all.
 * Here the driver-side model rides as a constructor array and the per-row
 * work is one JIT-hot loop, so a fused stage only grows by a method call
 * per kernel. Every fold below keeps the exact float-op order its DuckDB
 * oracle replay and the retired inline formulation use (AnnSpec pins the
 * equalities); vector elements are promoted float→double once, the
 * `graft_dot` ([[VectorBinaryLoop]]) fold.
 */

/**
 * `graft_centroid_argmin` — flat exact nearest-centroid argmin (the
 * small-c sibling of [[CoarsePrune]]). Replaces
 * [[graft.operators.Ann.assignCentroid]]'s inline form (measured on the
 * factor-1000 slice at ~600 s for a 2M-row assignment that this loop does
 * in seconds) with the same semantics:
 *
 *   d_j = −2·⟨v,c_j⟩ + ‖c_j‖²   (dot folded left-to-right over
 *          min(|v|, dim) elements with per-element double promotion),
 *   cid  = the FIRST j minimizing d_j under java.lang.Double.compare
 *
 * which is bit-for-bit `array_position(ds, array_min(ds)) − 1`: Spark's
 * double ordering IS Double.compare (NaN largest and self-equal, −0 < 0),
 * `array_min` takes the least element under it, and `array_position`
 * returns the first index whose element is ordering-equivalent to that
 * least value — i.e. the first attained minimum. Ties between duplicate
 * centroids therefore keep the lowest cid, the rule every oracle replay
 * and [[graft.operators.Ann.assignCentroidJoin]]'s `min(cid)` pass share
 * (q_semdedup's `semdedup` certificate pins the two plans' equality at scale).
 *
 * c is bounded by broadcastable model size, not codegen width; element
 * access has no per-element null test — a NULL element reads as 0, the
 * same value the inline dot-product fold consumed.
 */
final class CentroidArgmin(
    centersArr: Array[Double], // c × dim, row-major
    ccArr: Array[Double],      // ‖c_j‖² per centroid (driver-side Scala fold)
    isFloat: Boolean)
  extends (ArrayData => Any) with Serializable {

  require(ccArr.nonEmpty && centersArr.length % ccArr.length == 0,
    s"graft_centroid_argmin: ${centersArr.length} flattened model doubles do not divide " +
      s"into ${ccArr.length} centroids")

  private val c: Int   = ccArr.length
  private val dim: Int = centersArr.length / c

  def apply(vec: ArrayData): Any = argminRow(vec)

  def argminRow(vec: ArrayData): Int = {
    val n = vec.numElements()
    // promote once — mirrors graft_dot's per-element double promotion
    val x = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { x(i) = vec.getFloat(i).toDouble; i += 1 }
    else while (i < n) { x(i) = vec.getDouble(i); i += 1 }
    val m = math.min(n, dim) // graft_dot folds min(length) elements
    var best  = 0.0
    var bestC = -1
    var j = 0
    while (j < c) {
      var dot  = 0.0
      var k    = 0
      val base = j * dim
      while (k < m) { dot += x(k) * centersArr(base + k); k += 1 }
      val d = -2.0 * dot + ccArr(j)
      if (bestC < 0 || java.lang.Double.compare(d, best) < 0) { best = d; bestC = j }
      j += 1
    }
    bestC
  }
}

/**
 * `graft_coarse_prune` — triangle-inequality coarse-group pruning for
 * two-level exact nearest-centroid assignment
 * ([[graft.operators.Ann.assignCentroidPruned]], the g ≥ 128 regime). The
 * inline formulation builds 3·g expressions per row (g coarse distances,
 * a g-wide `array_min`, a g-wide conditional explode), re-entering the
 * cliff two-level assignment exists to avoid one data decade past
 * c ≈ 16k (g = √c). Given the flattened coarse centers, per-group ‖g_G‖²
 * and slack-inflated radii, this emits the surviving group-id array
 *
 *   ub = min_G (db_G + r_G),   survivors = { G : db_G − r_G ≤ ub }
 *
 * with db_G = √max(0, ‖v‖² − 2⟨v,g_G⟩ + ‖g_G‖²) — the identical formula,
 * promotion and accumulation order as the inline `dotLit` path, so the
 * two coarse plans prune identically up to FP noise the radii slack
 * absorbs (inflating r only ADDS candidates; the fine level re-scores
 * survivors exactly, so pruning differences never change the assignment).
 *
 * A vector with a NULL element emits an EMPTY survivor set — the same
 * row-drop the inline plan produces (null distance → null comparisons →
 * every gid slot null → filtered).
 */
final class CoarsePrune(
    centersArr: Array[Double], // g × dim, row-major
    ggArr: Array[Double],      // ‖g_G‖² per group (driver-side Scala fold)
    radiiArr: Array[Double],   // slack-inflated member radii per group
    isFloat: Boolean)
  extends (ArrayData => Any) with Serializable {

  private val g: Int   = ggArr.length
  private val dim: Int = if (g == 0) 0 else centersArr.length / g

  def apply(vec: ArrayData): Any = survivorsRow(vec)

  def survivorsRow(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return CoarsePrune.Empty
      i += 1
    }
    // promote once — mirrors graft_dot's per-element double promotion
    val x = new Array[Double](n)
    i = 0
    if (isFloat) while (i < n) { x(i) = vec.getFloat(i).toDouble; i += 1 }
    else while (i < n) { x(i) = vec.getDouble(i); i += 1 }
    var v2 = 0.0
    i = 0
    while (i < n) { v2 += x(i) * x(i); i += 1 }
    val m  = math.min(n, dim) // graft_dot folds min(length) elements
    val db = new Array[Double](g)
    var ub = Double.PositiveInfinity
    var gi = 0
    while (gi < g) {
      var dot  = 0.0
      var k    = 0
      val base = gi * dim
      while (k < m) { dot += x(k) * centersArr(base + k); k += 1 }
      val d = math.sqrt(math.max(0.0, v2 - 2.0 * dot + ggArr(gi)))
      db(gi) = d
      val u = d + radiiArr(gi)
      if (u < ub) ub = u
      gi += 1
    }
    var cnt = 0
    gi = 0
    while (gi < g) { if (db(gi) - radiiArr(gi) <= ub) cnt += 1; gi += 1 }
    val out = new Array[Int](cnt)
    var o   = 0
    gi = 0
    while (gi < g) {
      if (db(gi) - radiiArr(gi) <= ub) { out(o) = gi; o += 1 }
      gi += 1
    }
    new GenericArrayData(out)
  }
}

object CoarsePrune {
  private val Empty = new GenericArrayData(Array.empty[Int])
}

/**
 * `graft_pq_encode` — product-quantization encode. [[graft.operators.Ann.pqEncode]]
 * used to build m × ksub `squaredL2Distance` columns per row, each a
 * `zip_with`+`aggregate` higher-order function that never codegens: 128
 * interpreted lambda folds per row put the PQ trio at the top of the
 * bench (≈ 6.2–6.8 s each at sf0.1, ~34 µs/row). This loop computes the
 * identical codes over the m × ksub × dsub codebook:
 *
 *   code_s = the FIRST j minimizing Σ_i (v[s·dsub+i] − cb_s,j[i])²
 *            under java.lang.Double.compare,
 *
 * the same left-to-right 0.0-seeded fold as the HOF formulation and the
 * same first-min tie rule as `array_position(ds, array_min(ds)) − 1`; the
 * DuckDB replay (list_transform + list_reduce over the recorded codebook
 * literals) is bit-identical, pinned by AnnSpec's retired-formulation
 * equality spec and the driver-replay encode-parity spec.
 *
 * Degenerate inputs: a NULL element or a vector too short to cover
 * subspace s nulls ONLY code_s (the retired form's `zip_with` null-pad →
 * NULL distances → `array_min` of all-NULL → NULL position).
 */
final class PqEncode(
    cbArr: Array[Double], // m × ksub × dsub, row-major
    m: Int,
    ksub: Int,
    isFloat: Boolean)
  extends (ArrayData => Any) with Serializable {

  require(cbArr.length % (m * ksub) == 0,
    s"graft_pq_encode: ${cbArr.length} flattened codebook doubles do not divide " +
      s"into m=$m × ksub=$ksub codewords")

  private val dsub: Int = cbArr.length / (m * ksub)

  def apply(vec: ArrayData): Any = encodeRow(vec)

  def encodeRow(vec: ArrayData): ArrayData = {
    val n     = vec.numElements()
    val codes = new Array[Any](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      // subspace-s parity with the zip_with formulation: an out-of-range
      // or NULL element nulls this code only
      var usable = off + dsub <= n
      if (usable) {
        var i = off
        while (i < off + dsub && usable) {
          if (vec.isNullAt(i)) usable = false
          i += 1
        }
      }
      if (!usable) codes(s) = null
      else {
        val x = new Array[Double](dsub)
        var i = 0
        if (isFloat) while (i < dsub) { x(i) = vec.getFloat(off + i).toDouble; i += 1 }
        else while (i < dsub) { x(i) = vec.getDouble(off + i); i += 1 }
        var best  = 0.0
        var bestJ = -1
        var j = 0
        val bookBase = s * ksub * dsub
        while (j < ksub) {
          var d = 0.0
          var k = 0
          val base = bookBase + j * dsub
          while (k < dsub) { val t = x(k) - cbArr(base + k); d += t * t; k += 1 }
          if (bestJ < 0 || java.lang.Double.compare(d, best) < 0) { best = d; bestJ = j }
          j += 1
        }
        codes(s) = bestJ
      }
      s += 1
    }
    new GenericArrayData(codes)
  }
}

/**
 * `graft_adc_table` — the per-PROBE ADC lookup table
 * `tab(s)(j) = ‖p_s − cb_s,j‖²`, the probe-side half of the batch-PQ pair
 * (`graft_adc_dyn` consumes it per candidate row). Where
 * [[graft.operators.Ann.pqAdcTable]] computes this table driver-side for
 * ONE literal probe, this computes it inside the plan for EVERY row of a
 * probe frame, which keeps [[graft.operators.Ann.pqKnnJoin]] fully
 * distributed: the table is built once per probe (the small side),
 * broadcast with it, and the corpus-side pair scan does m lookup adds per
 * (row, probe).
 *
 * Each entry is the same left-to-right 0.0-seeded (x−y)² fold as
 * [[PqEncode]]'s distances and pqAdcTable's loop, so the oracle replays
 * entries with the same fragments it uses for encode distances. A NULL
 * element or a vector too short for subspace s leaves the ksub entries of
 * subspace s NULL, which [[AdcDyn]] propagates to a NULL adc.
 */
final class PqTable(
    cbArr: Array[Double], // m × ksub × dsub, row-major
    m: Int,
    ksub: Int,
    isFloat: Boolean)
  extends (ArrayData => Any) with Serializable {

  require(cbArr.length % (m * ksub) == 0,
    s"graft_adc_table: ${cbArr.length} flattened codebook doubles do not divide " +
      s"into m=$m × ksub=$ksub codewords")

  private val dsub: Int = cbArr.length / (m * ksub)

  def apply(vec: ArrayData): Any = tableRow(vec)

  def tableRow(vec: ArrayData): ArrayData = {
    val n   = vec.numElements()
    val out = new Array[Any](m * ksub)
    var s = 0
    while (s < m) {
      val off = s * dsub
      var usable = off + dsub <= n
      if (usable) {
        var i = off
        while (i < off + dsub && usable) {
          if (vec.isNullAt(i)) usable = false
          i += 1
        }
      }
      if (usable) {
        val x = new Array[Double](dsub)
        var i = 0
        if (isFloat) while (i < dsub) { x(i) = vec.getFloat(off + i).toDouble; i += 1 }
        else while (i < dsub) { x(i) = vec.getDouble(off + i); i += 1 }
        val bookBase = s * ksub * dsub
        var j = 0
        while (j < ksub) {
          var d = 0.0
          var k = 0
          val base = bookBase + j * dsub
          while (k < dsub) { val t = x(k) - cbArr(base + k); d += t * t; k += 1 }
          out(s * ksub + j) = d
          j += 1
        }
      } // else: the ksub entries of subspace s stay null
      s += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * `graft_adc` — the PQ asymmetric-distance sum `adc = Σ_s tab(s)(codes(s))`
 * over a literal m × ksub table, the ranking half of the compiled-PQ pair.
 * The former `aggregate(zip_with(codes, tab, element_at), 0.0, +)` was two
 * interpreted higher-order functions per row in the one pass whose whole
 * 100 TB story is "reads m bytes per row". This loop folds the m lookup
 * adds LEFT-TO-RIGHT from a 0.0 seed, the identical float-op sequence as
 * the HOF form and the oracle's `list_aggregate` replay.
 *
 * NULL (boxed) on a NULL code element (`element_at(row, NULL)` → NULL), on
 * a length-m mismatch (zip_with null-pads the shorter side) and on any
 * out-of-range code — the last a deliberate divergence reachable only by
 * a foreign codes column: the HOF's `element_at` returned NULL past the
 * end, RAISED for code −1 and indexed from the end for codes ≤ −2.
 */
final class AdcSum(tabArr: Array[Double], ksub: Int) // tab: m × ksub, row-major
  extends (ArrayData => Any) with Serializable {

  require(tabArr.length % ksub == 0,
    s"graft_adc: ${tabArr.length} flattened table doubles do not divide into ksub=$ksub rows")

  private val m: Int = tabArr.length / ksub

  def apply(codes: ArrayData): Any = adcRow(codes)

  def adcRow(codes: ArrayData): java.lang.Double = {
    val n = codes.numElements()
    if (n != m) return null
    var acc = 0.0
    var s = 0
    while (s < n) {
      if (codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      if (c < 0 || c >= ksub) return null
      acc += tabArr(s * ksub + c)
      s += 1
    }
    acc
  }
}

/**
 * `graft_adc_dyn` — the [[AdcSum]] lookup sum over a NON-literal table
 * column: `adc = Σ_s tab(s·ksub + codes(s))` where `tab` arrives per row
 * (the broadcast probe side of [[graft.operators.Ann.pqKnnJoin]], built by
 * `graft_adc_table`). Same 0.0-seeded left-to-right fold, so a
 * single-probe `graft_adc` plan and this batch plan produce bit-identical
 * distances for the same (codes, table) pair.
 *
 * NULL on a NULL code element, an out-of-range code, a length mismatch
 * (tab ≠ m·ksub) or a NULL TABLE ENTRY (a probe with a NULL element nulls
 * its whole subspace in [[PqTable]]) — such a (probe, candidate) pair
 * ranks nowhere, consistent with the codes-side convention.
 */
final class AdcDyn(ksub: Int) extends ((ArrayData, ArrayData) => Any) with Serializable {

  def apply(cs: ArrayData, tb: ArrayData): Any = adcRow(cs, tb)

  def adcRow(cs: ArrayData, tb: ArrayData): java.lang.Double = {
    val n = cs.numElements()
    if (tb.numElements() != n * ksub) return null
    var acc = 0.0
    var s = 0
    while (s < n) {
      if (cs.isNullAt(s)) return null
      val c = cs.getInt(s)
      if (c < 0 || c >= ksub) return null
      val idx = s * ksub + c
      if (tb.isNullAt(idx)) return null
      acc += tb.getDouble(idx)
      s += 1
    }
    acc
  }
}

/**
 * `graft_residual` — the IVFADC residual `r = v − centroid(cid)` over the
 * C × dim coarse model, composing with `graft_pq_encode` downstream
 * inside one whole-stage codegen span. Jégou, Douze, Schmid (TPAMI 2011)
 * §IV: IVFADC's accuracy at large C comes from product-quantizing
 * RESIDUALS rather than raw vectors — the coarse quantizer absorbs the
 * coarse position and the codebooks spend their cells on the much tighter
 * residual distribution.
 *
 *  - element i = `v[i] − centroids(cid)(i)`, v[i] promoted float→double
 *    first (the [[graft.functions.Similarity]] contract), so the oracle's
 *    `list_transform(range(…), i -> v[i] - cv[i])` over
 *    `CAST(embedding AS DOUBLE[])` is bit-identical;
 *  - a NULL element stays NULL, so the PQ encode downstream nulls exactly
 *    the subspaces it would have nulled on the raw vector;
 *  - a cid outside [0, C) or a vector whose length ≠ dim → NULL result
 *    (reachable only by foreign input: `assignCentroid` emits neither).
 */
final class Residual(
    centArr: Array[Double], // C × dim, row-major
    dim: Int,
    isFloat: Boolean)
  extends ((ArrayData, Int) => Any) with Serializable {

  require(centArr.length % dim == 0,
    s"graft_residual: ${centArr.length} flattened centroid doubles do not divide " +
      s"into dim=$dim rows")

  private val c: Int = centArr.length / dim

  def apply(v: ArrayData, cellId: Int): Any = residualRow(v, cellId)

  def residualRow(v: ArrayData, cellId: Int): ArrayData = {
    if (cellId < 0 || cellId >= c || v.numElements() != dim) return null
    val base = cellId * dim
    val out  = new Array[Any](dim)
    var i = 0
    while (i < dim) {
      if (!v.isNullAt(i)) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        out(i) = x - centArr(base + i)
      } // else: stays null
      i += 1
    }
    new GenericArrayData(out)
  }
}
