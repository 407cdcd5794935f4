package graft

import java.io.ByteArrayInputStream

import scala.collection.immutable.ArraySeq

import graft.expressions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/**
 * Session extensions registering every entry of [[GraftExtensions.table]]
 * as a SQL function — the standard `spark.sql.extensions` injection path
 * (no Spark fork, works on any cluster that has the graft jar on the
 * classpath). Activated via `GraftSession.configure`
 * (`spark.sql.extensions=graft.GraftExtensions`).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.build _))
    }
}

object GraftExtensions {

  /** A literal model argument: its name in error messages, its SQL kind
    * (INT: a positive integer of any integral type; ARRAY<DOUBLE>,
    * ARRAY<STRING> or BINARY: non-NULL, no NULL element) and its value
    * when omitted. */
  final case class Arg(what: String, kind: DataType, default: Option[Int] = None)

  private def posInt(what: String, default: Option[Int] = None): Arg = Arg(what, IntegerType, default)
  private def doubles(what: String): Arg = Arg(what, ArrayType(DoubleType))
  private def strings(what: String): Arg = Arg(what, ArrayType(StringType))

  /** The one reader of literal model arguments, run by the function
    * builder: the value of a foldable literal of `arg`'s kind, or an
    * analysis-time "<fn>: <what> must be …" error. */
  private def literal(fn: String, arg: Arg, e: Expression): Any = {
    val want =
      if (arg.kind == IntegerType) "a positive integer literal" else s"a non-null literal ${arg.kind.sql}"
    def fail(detail: String = ""): Nothing =
      throw new IllegalArgumentException(s"$fn: ${arg.what} must be $want$detail")
    val v = if (e.foldable) e.eval() else null
    (arg.kind, e.dataType, v) match {
      case (IntegerType, ByteType | ShortType | IntegerType | LongType, n: java.lang.Number)
          if n.longValue >= 1 && n.longValue <= Int.MaxValue => n.intValue
      case (ArrayType(elem, _), ArrayType(t, _), a: ArrayData) if t == elem || t == NullType =>
        (0 until a.numElements()).find(a.isNullAt).foreach(i => fail(s", but element $i is NULL"))
        if (elem == DoubleType) a.toDoubleArray().toIndexedSeq
        else IndexedSeq.tabulate(a.numElements())(a.getUTF8String(_).toString)
      case (BinaryType, BinaryType, b: Array[Byte]) => ArraySeq.unsafeWrapArray(b)
      case _ => fail()
    }
  }

  /** One `graft_*` SQL function: `data` leading column args, then the
    * literal model args `model` — all given, or all omitted when every one
    * has a default. */
  sealed trait Fn {
    def name: String
    def usage: String
    def data: Int
    def model: Seq[Arg]
    def cls: Class[_]
    def make(data: Seq[Expression], model: Seq[Any]): Expression

    final def build(args: Seq[Expression]): Expression = {
      val (cols, lits) = args.splitAt(data)
      val values =
        if (cols.size < data) throw new IllegalArgumentException(usage)
        else if (lits.size == model.size) model.zip(lits).map { case (a, e) => literal(name, a, e) }
        else if (lits.isEmpty && model.forall(_.default.isDefined)) model.map(_.default.get)
        else throw new IllegalArgumentException(usage)
      make(cols, values)
    }
  }

  /** A pass-through kernel, run by the generic [[Kernel]] node. `check`
    * returns the type error for the data args, if any, as the words after
    * the function name ("expects …, got …"); `row` builds the
    * row function — a `FunctionN` over the N data values — from the model
    * values and the data types; `nullable`: the row function itself may
    * return NULL. */
  final case class Kern(
      name: String, usage: String, data: Int, model: Seq[Arg],
      check: Seq[DataType] => Option[String], result: DataType, nullable: Boolean = false)(
      val row: (Seq[Any], Seq[DataType]) => AnyRef) extends Fn {
    def cls: Class[_] = classOf[Kernel]
    def make(data: Seq[Expression], model: Seq[Any]): Expression = Kernel(name, data, model)
  }

  /** A function with its own expression class. */
  final case class Own(name: String, usage: String, data: Int, model: Seq[Arg], cls: Class[_])(
      mk: (Seq[Expression], Seq[Any]) => Expression) extends Fn {
    def make(data: Seq[Expression], model: Seq[Any]): Expression = mk(data, model)
  }

  /** Type check: `ok` data arg types pass; others fail with
    * "expects <what>, got <types>". */
  private def expects(what: String)(
      ok: PartialFunction[Seq[DataType], Unit]): Seq[DataType] => Option[String] = {
    case ts if ok.isDefinedAt(ts) => None
    case Seq(t) => Some(s"expects $what, got $t")
    case ts => Some(s"expects $what, got ${ts.mkString("(", ", ", ")")}")
  }
  private val doc = expects("a STRING document") { case Seq(StringType) => }
  private def vector(what: String = "an ARRAY<FLOAT|DOUBLE> vector") =
    expects(what) { case Seq(ArrayType(FloatType | DoubleType, _)) => }

  private def dbls(v: Any): Array[Double] = v.asInstanceOf[IndexedSeq[Double]].toArray
  private def isFloat(t: DataType): Boolean = t.asInstanceOf[ArrayType].elementType == FloatType

  /** Every `graft_*` SQL function. The first four generate their loops
    * inline (a fused dot-and-norms pass over two vectors; a numHashes ×
    * tokens minima loop; a 64-counter vote loop) and the fifth is an
    * aggregate, so they keep their own classes; every other entry is a
    * pass-through kernel whose per-row work is one call into a row
    * method, and runs as a [[Kernel]]. */
  val table: Seq[Fn] = Seq(
    Own("graft_cosine", "graft_cosine(vec_a, vec_b)", 2, Nil, classOf[CosineSimilarity])(
      (d, _) => CosineSimilarity(d(0), d(1))),
    Own("graft_dot", "graft_dot(vec_a, vec_b)", 2, Nil, classOf[DotProduct])(
      (d, _) => DotProduct(d(0), d(1))),
    Own("graft_minhash", "graft_minhash(shingles[, numHashes])", 1,
      Seq(posInt("numHashes", Some(64))), classOf[MinHashSignature])(
      (d, m) => MinHashSignature(d.head, m.head.asInstanceOf[Int])),
    Own("graft_simhash", "graft_simhash(tokens)", 1, Nil, classOf[SimHash64])(
      (d, _) => SimHash64(d.head)),
    Own("graft_topk", "graft_topk(col[, capacity])", 1,
      Seq(posInt("capacity", Some(1024))), classOf[TopKSketch])(
      (d, m) => TopKSketch(d.head, m.head.asInstanceOf[Int])),

    Kern("graft_centroid_argmin", "graft_centroid_argmin(vec, flat_centroids, centroid_norms)", 1,
      Seq(doubles("flat centroids"), doubles("centroid norms")),
      vector(), IntegerType) {
      case (Seq(cs, ccs), Seq(t)) => new CentroidArgmin(dbls(cs), dbls(ccs), isFloat(t))
    },
    Kern("graft_coarse_prune", "graft_coarse_prune(vec, flat_centers, group_norms, radii)", 1,
      Seq(doubles("flat centers"), doubles("group norms"), doubles("radii")),
      vector(), ArrayType(IntegerType, containsNull = false)) {
      case (Seq(cs, gg, rs), Seq(t)) => new CoarsePrune(dbls(cs), dbls(gg), dbls(rs), isFloat(t))
    },
    Kern("graft_pq_encode", "graft_pq_encode(vec, flat_codebooks, m, ksub)", 1,
      Seq(doubles("flat codebooks"), posInt("m"), posInt("ksub")),
      vector(), ArrayType(IntegerType, containsNull = true)) {
      case (Seq(cb, m: Int, k: Int), Seq(t)) => new PqEncode(dbls(cb), m, k, isFloat(t))
    },
    Kern("graft_adc_table", "graft_adc_table(vec, flat_codebooks, m, ksub)", 1,
      Seq(doubles("flat codebooks"), posInt("m"), posInt("ksub")),
      vector("an ARRAY<FLOAT|DOUBLE> probe vector"),
      ArrayType(DoubleType, containsNull = true)) {
      case (Seq(cb, m: Int, k: Int), Seq(t)) => new PqTable(dbls(cb), m, k, isFloat(t))
    },
    Kern("graft_adc", "graft_adc(codes, flat_table, ksub)", 1,
      Seq(doubles("flat adc table"), posInt("ksub")),
      expects("an ARRAY<INT> codes column") { case Seq(ArrayType(IntegerType, _)) => },
      DoubleType, nullable = true) {
      case (Seq(tab, k: Int), _) => new AdcSum(dbls(tab), k)
    },
    Kern("graft_adc_dyn", "graft_adc_dyn(codes, tab, ksub)", 2, Seq(posInt("ksub")),
      expects("(ARRAY<INT> codes, ARRAY<DOUBLE> table)") {
        case Seq(ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      },
      DoubleType, nullable = true) {
      case (Seq(k: Int), _) => new AdcDyn(k)
    },
    Kern("graft_residual", "graft_residual(vec, cid, flat_centroids, dim)", 2,
      Seq(doubles("flat centroids"), posInt("dim")),
      expects("(ARRAY<FLOAT|DOUBLE> vector, INT cid)") {
        case Seq(ArrayType(FloatType | DoubleType, _), IntegerType) =>
      },
      ArrayType(DoubleType, containsNull = true), nullable = true) {
      case (Seq(cs, d: Int), t +: _) => new Residual(dbls(cs), d, isFloat(t))
    },

    Kern("graft_bpe_pairs", "graft_bpe_pairs(word, merges)", 1, Seq(strings("merge table")),
      expects("a STRING word") { case Seq(StringType) => },
      ArrayType(StringType, containsNull = false)) {
      case (Seq(merges), _) => new BpePairs(merges.asInstanceOf[IndexedSeq[String]])
    },
    Kern("graft_bpe_encode", "graft_bpe_encode(text)", 1, Nil, doc,
      ArrayType(StringType, containsNull = false)) {
      (_, _) => (t: UTF8String) => BpeEncode.encodeDoc(t)
    },
    Kern("graft_bpe_count", "graft_bpe_count(text)", 1, Nil, doc, LongType) {
      (_, _) => (t: UTF8String) => BpeEncode.tokenCount(t)
    },
    Kern("graft_clf_score", "graft_clf_score(text)", 1, Nil, doc, LongType) {
      (_, _) => (t: UTF8String) => ClfScore.score(t)
    },
    Kern("graft_hashed_score", "graft_hashed_score(text, uni_weights, bi_weights)", 1,
      Seq(doubles("uni weight table"), doubles("bi weight table")),
      doc, DoubleType) {
      case (Seq(u, b), _) =>
        val (uni, bi) = (dbls(u), dbls(b))
        require(uni.nonEmpty || bi.nonEmpty,
          "graft_hashed_score: at least one of the weight tables must be non-empty")
        (t: UTF8String) => HashedScore.score(t, uni, bi)
    },
    Kern("graft_rollhash", "graft_rollhash(text)", 1, Nil, doc, LongType) {
      (_, _) => (t: UTF8String) => RollingHash.hash(t)
    },
    Kern("graft_winnow", "graft_winnow(text[, k, w])", 1,
      Seq(posInt("k", Some(8)), posInt("w", Some(8))), doc, ArrayType(LongType, containsNull = false)) {
      case (Seq(k: Int, w: Int), _) => (t: UTF8String) => Winnow.fingerprints(t, k, w)
    },
    Kern("graft_shingles", "graft_shingles(text[, n])", 1, Seq(posInt("n", Some(3))),
      doc, ArrayType(StringType, containsNull = false)) {
      case (Seq(n: Int), _) => (t: UTF8String) => Shingles.compute(t, n)
    },
    Kern("graft_count_in", "graft_count_in(tokens, array('w1', ...))", 1, Seq(strings("word set")),
      expects("ARRAY<STRING> tokens") { case Seq(ArrayType(StringType | NullType, _)) => }, LongType) {
      case (Seq(words), _) => new CountInSet(words.asInstanceOf[IndexedSeq[String]])
    },

    Kern("graft_zorder", "graft_zorder(x, y)", 2, Nil, {
      case Seq(LongType, LongType) => None
      case ts => Some(s"expects (BIGINT, BIGINT), got ${ts.mkString(" / ")}")
    }, LongType) {
      (_, _) => (x: Long, y: Long) => ZOrder.interleave(x, y)
    },
    // the serialized filter is parsed once per row function, never per
    // row; a probe is only ever a PRE-filter ahead of an exact join (false
    // positives by construction, no false negatives — see BloomPrune)
    Kern("graft_bloom_contains", "graft_bloom_contains(key, bloom)", 1,
      Seq(Arg("bloom filter", BinaryType)),
      expects("a BIGINT key") { case Seq(LongType) => }, BooleanType) {
      case (Seq(bytes), _) =>
        val bloom = BloomFilter.readFrom(
          new ByteArrayInputStream(bytes.asInstanceOf[ArraySeq[Byte]].toArray))
        (key: Long) => bloom.mightContainLong(key)
    })

  /** The pass-through kernels by SQL name, for [[Kernel]]. */
  lazy val kernels: Map[String, Kern] = table.collect { case k: Kern => k.name -> k }.toMap
}
