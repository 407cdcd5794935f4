package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native codegen expressions for the dedup hash pipeline. The HOF
 * formulations (64 × `array_min(transform(...))` per document for MinHash,
 * a 64-slot `aggregate` fold per token for SimHash) evaluate interpreted —
 * tens of millions of lambda invocations at sf0.1, ~90 s of the bench.
 * These fuse the whole signature computation into one generated loop.
 *
 * Hash family: XXH64 over the token's UTF-8 bytes (the same primitive as
 * Spark's `xxhash64`), reduced mod P (2^31−1) and mapped through
 * deterministic affine functions (a·x+b mod P, seeds fixed). The exact
 * hash family is internal to the LSH pipeline — correctness is proven by
 * the verified-pair oracle equality, not by hash values.
 */
object HashSeeds {
  val P: Long = 2147483647L

  def affineSeeds(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a   = Array.fill(numHashes)(rnd.nextLong(P - 1) + 1)
    val b   = Array.fill(numHashes)(rnd.nextLong(P))
    (a, b)
  }

  /** XXH64 of a UTF8String's bytes (static helper shared by eval+codegen;
    * same primitive as Spark's `xxhash64` function). */
  def xxh64(s: UTF8String, seed: Long): Long = XXH64.hashUTF8String(s, seed)
}

/** MinHash signature: ARRAY<STRING> shingles → ARRAY<LONG> of `numHashes`
  * minima, one fused loop (shingles × hash functions). */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long = 42L)
    extends UnaryExpression {

  // analysis-time guard: getUTF8String on a non-string array element would
  // misread the Unsafe layout as offset+length — silently wrong signatures,
  // not even a crash
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // NullType: the empty-array literal `array()` — zero elements, nothing
    // to misread, and the empty-input identity case relies on it
    case ArrayType(StringType | NullType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects ARRAY<STRING> shingles, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val (aSeeds, bSeeds) = HashSeeds.affineSeeds(numHashes, seed)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i   = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = HashSeeds.xxh64(arr.getUTF8String(i), 42L)
        val x = ((h % HashSeeds.P) + HashSeeds.P) % HashSeeds.P
        var k = 0
        while (k < numHashes) {
          val v = (aSeeds(k) * x + bSeeds(k)) % HashSeeds.P
          if (v < out(k)) out(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aSeeds, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bSeeds, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val out = ctx.freshName("out")
      val i   = ctx.freshName("i")
      val k   = ctx.freshName("k")
      val h   = ctx.freshName("h")
      val x   = ctx.freshName("x")
      val v   = ctx.freshName("v")
      val s   = ctx.freshName("s")
      val P   = HashSeeds.P
      s"""
         |long[] $out = new long[$numHashes];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String($s, 42L);
         |    long $x = (($h % ${P}L) + ${P}L) % ${P}L;
         |    for (int $k = 0; $k < $numHashes; $k++) {
         |      long $v = ($aRef[$k] * $x + $bRef[$k]) % ${P}L;
         |      if ($v < $out[$k]) $out[$k] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash: ARRAY<STRING> tokens → LONG signature, one fused loop. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType | NullType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects ARRAY<STRING> tokens, got $other")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr    = input.asInstanceOf[ArrayData]
    val counts = new Array[Long](64)
    var i      = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = HashSeeds.xxh64(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          counts(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b   = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts")
      val i      = ctx.freshName("i")
      val b      = ctx.freshName("b")
      val h      = ctx.freshName("h")
      val s      = ctx.freshName("s")
      val sig    = ctx.freshName("sig")
      s"""
         |long[] $counts = new long[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String($s, 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $counts[$b] += ((($h >>> $b) & 1L) == 1L) ? 1L : -1L;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) { if ($counts[$b] > 0) $sig |= (1L << $b); }
         |${ev.value} = $sig;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
