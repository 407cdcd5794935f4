package graft.expressions

import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/**
 * Null/empty edge behavior of every extension-injected expression, driven
 * through the SQL surface (so both codegen and the null-handling wrappers
 * are on the path). At 100 TB the corpus WILL contain null and empty
 * documents/vectors; an expression that throws there kills the stage.
 */
class ExpressionEdgeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def one(sql: String): Any = spark.sql(s"SELECT $sql").head().get(0)

  test("null inputs propagate null, not exceptions") {
    assert(one("graft_cosine(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))") == null)
    assert(one("graft_dot(CAST(NULL AS ARRAY<FLOAT>), CAST(NULL AS ARRAY<FLOAT>))") == null)
    assert(one("graft_minhash(CAST(NULL AS ARRAY<STRING>), 4)") == null)
    assert(one("graft_simhash(CAST(NULL AS ARRAY<STRING>))") == null)
    assert(one("graft_shingles(CAST(NULL AS STRING), 3)") == null)
    assert(one("graft_rollhash(CAST(NULL AS STRING))") == null)
    assert(one("graft_count_in(CAST(NULL AS ARRAY<STRING>), array('a'))") == null)
  }

  test("empty inputs return defined values") {
    // empty text → no shingles; minhash of nothing is the identity
    // signature (max sentinel), not a crash
    val shingles = one("graft_shingles('', 3)")
    assert(shingles.asInstanceOf[scala.collection.Seq[_]].isEmpty)
    val mh = one("graft_minhash(array(), 4)")
    assert(mh.asInstanceOf[scala.collection.Seq[_]].size === 4)
    val rh = one("graft_rollhash('')")
    assert(rh != null)
    assert(one("graft_count_in(array(), array('a'))") === 0L)
  }

  test("cosine of degenerate vectors is well-defined") {
    // zero vector has no direction: must be null or 0.0, never NaN/throw
    val z = one("graft_cosine(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))")
    assert(z == null || z == 0.0)
    val self = one("graft_cosine(array(CAST(3.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
    assert(math.abs(self.asInstanceOf[Double] - 1.0) < 1e-6)
  }

  test("type and arity misuse fails at analysis time with a usable message") {
    // wrong input type → AnalysisException (not an executor-side
    // ClassCastException mid-stage)
    val winnowTypeErr = intercept[Exception](one("graft_winnow(42)"))
    assert(winnowTypeErr.getMessage.contains("STRING"))
    // NULL bloom literal → analysis error (not a lazy executor NPE in
    // BloomFilter.readFrom)
    val bloomNullErr = intercept[Exception](
      one("graft_bloom_contains(CAST(1 AS BIGINT), CAST(NULL AS BINARY))"))
    assert(bloomNullErr.getMessage.toLowerCase.contains("null"))
    // wrong arity → usage message, not IndexOutOfBoundsException
    val zorderArity = intercept[Exception](one("graft_zorder(1)"))
    assert(zorderArity.getMessage.contains("graft_zorder"))
    val bloomArity = intercept[Exception](one("graft_bloom_contains(CAST(1 AS BIGINT))"))
    assert(bloomArity.getMessage.contains("graft_bloom_contains"))
    val cosineArity = intercept[Exception](one("graft_cosine(array(CAST(1.0 AS FLOAT)))"))
    assert(cosineArity.getMessage.contains("graft_cosine"))
    val dotArity = intercept[Exception](one("graft_dot(array(CAST(1.0 AS FLOAT)))"))
    assert(dotArity.getMessage.contains("graft_dot"))
    // non-literal word set → usage message, not a builder-side cast crash
    val countInErr = intercept[Exception](one("graft_count_in('a b')"))
    assert(countInErr.getMessage.contains("graft_count_in"))
  }

  test("expressions survive a whole-column pass over real data with injected nulls") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("t", when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("text")))
    // aggregate over the expression OUTPUTS, not count(): a bare count lets
    // Catalyst prune the projection and the expressions never run
    // (bit_xor, not sum — hashes span the full 64-bit range and ANSI sum
    // overflows)
    val got = docs.selectExpr(
        "bit_xor(graft_simhash(split(t, ' +')))",
        "bit_xor(graft_rollhash(t))",
        "sum(size(graft_shingles(t, 3)))")
      .head()
    assert(!got.isNullAt(0) && !got.isNullAt(1) && !got.isNullAt(2))
  }

  test("hash-family expressions reject wrong input types at analysis time") {
    // pre-guard, graft_minhash over a non-string array read the Unsafe
    // layout as offset+length — silently wrong signatures, no error
    val mh = intercept[Exception](one("graft_minhash(array(1L, 2L), 4)"))
    assert(mh.getMessage.contains("ARRAY<STRING>"))
    val sh = intercept[Exception](one("graft_simhash('a b')"))
    assert(sh.getMessage.contains("ARRAY<STRING>"))
    val sg = intercept[Exception](one("graft_shingles(42, 3)"))
    assert(sg.getMessage.contains("STRING"))
    val rh = intercept[Exception](one("graft_rollhash(42)"))
    assert(rh.getMessage.contains("STRING"))
    val ci = intercept[Exception](one("graft_count_in(array(1L), array('a'))"))
    assert(ci.getMessage.contains("ARRAY<STRING>"))
  }

  // One serialized bloom filter holding key 1, as a SQL binary literal.
  private lazy val bloomHex: String = {
    val bf  = org.apache.spark.util.sketch.BloomFilter.create(16)
    bf.putLong(1L)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray.map(b => f"$b%02X").mkString("X'", "", "'")
  }

  // Per pass-through kernel: well-typed data args (SQL value, SQL type),
  // the trailing literal model args, and a wrong-typed first data arg.
  private lazy val kernelCases: Map[String, (Seq[(String, String)], String, String)] = Map(
    "graft_adc" -> (Seq("array(0, 1)" -> "ARRAY<INT>"), ", array(0.5D, 1.5D, 2.5D, 3.5D), 2", "array('x')"),
    "graft_adc_dyn" -> (Seq("array(0, 1)" -> "ARRAY<INT>",
      "array(0.5D, 1.5D, 2.5D, 3.5D)" -> "ARRAY<DOUBLE>"), ", 2", "array('x')"),
    "graft_adc_table" -> (Seq("array(1D)" -> "ARRAY<DOUBLE>"), ", array(0D, 1D), 1, 2", "array('x')"),
    "graft_pq_encode" -> (Seq("array(1D)" -> "ARRAY<DOUBLE>"), ", array(0D, 1D), 1, 2", "array('x')"),
    "graft_residual" -> (Seq("array(1D, 2D)" -> "ARRAY<DOUBLE>", "0" -> "INT"), ", array(0D, 1D), 2", "'x'"),
    "graft_centroid_argmin" -> (Seq("array(1D, 2D)" -> "ARRAY<DOUBLE>"), ", array(0D, 1D), array(1D)", "'x'"),
    "graft_coarse_prune" -> (Seq("array(1D, 2D)" -> "ARRAY<DOUBLE>"),
      ", array(0D, 1D), array(1D), array(0.5D)", "'x'"),
    "graft_bpe_pairs" -> (Seq("'abc'" -> "STRING"), ", array('a b')", "42"),
    "graft_bpe_encode" -> (Seq("'a b'" -> "STRING"), "", "42"),
    "graft_bpe_count" -> (Seq("'a b'" -> "STRING"), "", "42"),
    "graft_clf_score" -> (Seq("'a b'" -> "STRING"), "", "42"),
    "graft_hashed_score" -> (Seq("'a b'" -> "STRING"), ", array(1D, 2D), array(3D)", "42"),
    "graft_rollhash" -> (Seq("'a b'" -> "STRING"), "", "42"),
    "graft_winnow" -> (Seq("'abcdefghijkl'" -> "STRING"), ", 3, 2", "42"),
    "graft_zorder" -> (Seq("1L" -> "BIGINT", "2L" -> "BIGINT"), "", "'x'"),
    "graft_shingles" -> (Seq("'a b c d'" -> "STRING"), ", 3", "42"),
    "graft_count_in" -> (Seq("array('a', 'b')" -> "ARRAY<STRING>"), ", array('a')", "array(1L)"),
    // the bloom filter is a literal model arg: NULL there is an analysis error
    "graft_bloom_contains" -> (Seq("1L" -> "BIGINT"), s", $bloomHex", "'x'"))

  test("every pass-through kernel: NULL data in gives NULL out; a wrong type fails analysis naming it") {
    val names = graft.GraftExtensions.kernels.keys.toSeq.sorted
    assert(names.toSet === kernelCases.keySet, "every kernel table entry needs a case here")
    for (fn <- names) {
      val (data, model, wrong) = kernelCases(fn)
      def call(args: Seq[String]) = s"$fn(${args.mkString(", ")}$model)"
      // well-typed call: analyses and runs
      one(call(data.map(_._1)))
      for (i <- data.indices) {
        // NULL literal (constant-folded, interpreted) and a NULL that only
        // appears at run time (generated code over a range scan)
        val typed = data.updated(i, s"CAST(NULL AS ${data(i)._2})" -> "")
        assert(one(call(typed.map(_._1))) == null, s"$fn: NULL literal arg $i")
        val rt = data.map(_._1).updated(i, s"if(id < 0, ${data(i)._1}, NULL)")
        val got = spark.range(2).selectExpr(call(rt)).collect().map(_.get(0))
        assert(got.forall(_ == null), s"$fn: run-time NULL arg $i gave ${got.toSeq}")
      }
      val err = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT ${call(wrong +: data.tail.map(_._1))}"))
      assert(err.getMessage.contains(fn), s"$fn: ${err.getMessage}")
    }
  }

  // Integer model arguments: rejected at analysis (spark.sql analyses
  // eagerly) unless a positive integral literal, BIGINT included.
  private def analysisError(sql: String): String =
    intercept[Exception](spark.sql(s"SELECT $sql")).getMessage

  test("graft_shingles: n = 0 is rejected at analysis") {
    assert(analysisError("graft_shingles('a b c', 0)")
      .contains("graft_shingles: n must be a positive integer literal"))
    assert(analysisError("graft_shingles('a b c', CAST(NULL AS INT))")
      .contains("graft_shingles: n must be a positive integer literal"))
    assert(analysisError("graft_shingles('a b c', 2.5D)")
      .contains("graft_shingles: n must be a positive integer literal"))
  }

  test("graft_winnow: w = 0 is rejected at analysis") {
    assert(analysisError("graft_winnow('abcdefghijkl', 3, 0)")
      .contains("graft_winnow: w must be a positive integer literal"))
  }

  test("graft_minhash: a negative numHashes is rejected at analysis") {
    assert(analysisError("graft_minhash(array('a', 'b'), -1)")
      .contains("graft_minhash: numHashes must be a positive integer literal"))
  }

  test("BIGINT integer model arguments are accepted like INT ones (graft_pq_encode m, 1L)") {
    val viaLong = one("graft_pq_encode(array(1D), array(0D, 1D), 1L, 2)")
    assert(viaLong.asInstanceOf[scala.collection.Seq[_]] === Seq(1))
    assert(viaLong === one("graft_pq_encode(array(1D), array(0D, 1D), 1, 2)"))
    assert(one("graft_shingles('a b c', 3L)").asInstanceOf[scala.collection.Seq[_]] === Seq("a b c"))
    assert(one("graft_adc(array(0, 1), array(0.5D, 1.5D, 2.5D, 3.5D), 2L)") === 4.0)
  }

  test("graft_count_in: a NULL word is rejected at analysis, naming the function") {
    val msg = analysisError("graft_count_in(array('a', 'b'), array('a', NULL))")
    assert(msg.contains("graft_count_in") && !msg.contains("INTERNAL_ERROR"), msg)
  }
}
