package graft

import graft.operators.EventLog
import graft.operators.EventLog.{EmptyLog, FutureOffset, LogRange, OutOfRange}
import graft.streaming.OffsetLog
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.commands.Commands
import org.scalatest.funsuite.AnyFunSuite

/**
 * ScalaCheck properties for the pure semantics layer (SURVEY §5.1): the
 * paging clamp, the offset-validation ADT, and the offset-log retention
 * invariants — the reference pins these with 8 hand-picked vectors
 * (`server_test.go:418-501`); the generators cover the whole input space.
 */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: $res")
  }

  test("getStart: page covers the most recent min(pageSize, n) offsets") {
    val gen = for {
      earliest <- Gen.chooseNum(0L, 10000L)
      span     <- Gen.chooseNum(0L, 10000L)
      pageSize <- Gen.chooseNum(1, 500)
    } yield (earliest, earliest + span, pageSize)
    check("getStart", Prop.forAll(gen) { case (earliest, latest, pageSize) =>
      val start = EventLog.getStart(earliest, latest, pageSize)
      val n     = latest - start + 1
      start >= earliest &&
        n == math.min(pageSize.toLong, latest - earliest + 1) &&
        (start == earliest || n == pageSize.toLong)
    })
  }

  test("checkOffset: total partition of the offset space") {
    val gen = for {
      earliest <- Gen.chooseNum(0L, 1000L)
      span     <- Gen.chooseNum(0L, 1000L)
      offset   <- Gen.chooseNum(-10L, 3000L)
      empty    <- Gen.oneOf(true, false)
    } yield (if (empty) LogRange(-1, -1) else LogRange(earliest, earliest + span), offset)
    check("checkOffset", Prop.forAll(gen) { case (range, offset) =>
      EventLog.checkOffset(range, offset) match {
        case Left(EmptyLog)     => range.isEmpty
        case Left(OutOfRange)   => !range.isEmpty && offset < range.earliest
        case Left(FutureOffset) => !range.isEmpty && offset > range.latest
        case Right(o)           => !range.isEmpty && o == offset &&
          offset >= range.earliest && offset <= range.latest
      }
    })
  }

  test("OffsetLog: dense offsets, bounded retention, exact error surface") {
    val gen = for {
      start   <- Gen.chooseNum(0L, 100L)
      segSize <- Gen.chooseNum(1, 40)
      n       <- Gen.chooseNum(0, 150)
    } yield (start, segSize, n)
    check("offsetLog", Prop.forAll(gen) { case (start, segSize, n) =>
      val log = new OffsetLog(start, segSize)
      val offsets = (0 until n).map(i => log.write(Array(i.toByte)).toOption.get)
      val r = log.range
      val dense     = offsets == (start until start + n)
      val rangeOk   =
        if (n == 0) r == LogRange(-1, -1)
        else r.latest == start + n - 1 && r.earliest >= start &&
          r.latest - r.earliest + 1 == log.size
      val bounded   = log.size <= 2 * segSize && (n <= 2 * segSize || log.size > segSize)
      val readable  = n == 0 ||
        (r.earliest to r.latest).forall(o => log.read(o).isRight)
      val purgedErr = n == 0 || r.earliest == start ||
        log.read(r.earliest - 1) == Left(OutOfRange)
      val futureErr = log.read(start + n) == Left(FutureOffset)
      dense && rangeOk && bounded && readable && purgedErr && futureErr
    })
  }

  test("strideSample: length, ordering, and identity invariants") {
    import graft.operators.Multimodal.strideSample
    val gen = for {
      n      <- Gen.chooseNum(0, 2000)
      target <- Gen.chooseNum(1, 512)
      seed   <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
    } yield (Array.tabulate(n)(i => ((i * 31 + seed) & 0xFF).toByte), target)
    check("strideSample", Prop.forAll(gen) { case (payload, target) =>
      val out = strideSample(payload, target)
      val lengthOk = out.length == math.min(payload.length, target)
      // sampled indices are monotonically non-decreasing → output preserves
      // input order (it is a true subsequence)
      val indices = out.indices.map(i => (i.toLong * payload.length / out.length).toInt)
      val monotone = out.isEmpty || indices.zip(indices.tail).forall { case (a, b) => a <= b }
      val values = out.indices.forall(i => out(i) == payload(indices(i)))
      // no-op when the payload already fits
      val identity = payload.length > target ||
        java.util.Arrays.equals(out, payload)
      val first = out.isEmpty || out(0) == payload(0)
      lengthOk && monotone && values && identity && first
    })
  }

  test("OffsetLog: offsets are invariant under batch regrouping (pacing-proof)") {
    val gen = for {
      n      <- Gen.chooseNum(1, 120)
      splits <- Gen.listOfN(n, Gen.chooseNum(1, 5)) // batch sizes to carve
    } yield (n, splits)
    check("batchInvariance", Prop.forAll(gen) { case (n, splits) =>
      val records = (0 until n).map(i => Array(i.toByte))
      def run(batchSizes: Seq[Int]): Seq[(Long, Byte)] = {
        val log = new OffsetLog(7L, 25)
        var rest = records
        batchSizes.foreach { b =>
          val (batch, r) = rest.splitAt(b)
          batch.foreach(log.write(_))
          rest = r
        }
        rest.foreach(log.write(_))
        log.snapshot.map { case (o, b) => (o, b(0)) }
      }
      run(Seq(n)) == run(splits)
    })
  }

  test("OffsetLog + Api agree with a List model over random command sequences") {
    check("logModel", LogModel.property())
  }

  test("editdist pigeonhole pre-filter is lossless: dist<=5 pairs always pass") {
    // mirrors q_editdist's candidate cut (DedupQueries): pa split into 6
    // contiguous chunks — <=5 edits leave >=1 chunk untouched, which must
    // appear verbatim in pb; short prefixes bypass the filter entirely.
    // Spark 1-based substring / instr semantics reproduced exactly.
    val chunks = Seq((1, 7), (8, 7), (15, 7), (22, 7), (29, 6), (35, 6))
    def filterPasses(pa: String, pb: String): Boolean =
      pa.length < 40 || chunks.exists { case (pos, len) =>
        pb.contains(pa.slice(pos - 1, pos - 1 + len))
      }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
                          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }

    val alpha = Gen.oneOf('a', 'b', 'c', 'd')
    val gen = for {
      n     <- Gen.chooseNum(35, 60)
      base  <- Gen.listOfN(n, alpha).map(_.mkString)
      edits <- Gen.chooseNum(0, 5)
      ops   <- Gen.listOfN(edits, for {
                 kind <- Gen.chooseNum(0, 2)
                 pos  <- Gen.chooseNum(0, math.max(0, n - 1))
                 ch   <- alpha
               } yield (kind, pos, ch))
    } yield {
      val mutated = ops.foldLeft(base) { case (s, (kind, pos, ch)) =>
        val p = math.min(pos, math.max(0, s.length - 1))
        kind match {
          case 0 if s.nonEmpty => s.updated(p, ch)                      // substitute
          case 1               => s.take(p) + ch + s.drop(p)            // insert
          case _ if s.nonEmpty => s.take(p) + s.drop(p + 1)             // delete
          case _               => s
        }
      }
      (base.take(40), mutated.take(40))
    }
    check("pigeonhole", Prop.forAll(gen) { case (pa, pb) =>
      lev(pa, pb) > 5 || filterPasses(pa, pb)
    })

    // The round-10 CANDIDATE GENERATION is stricter than the instr filter:
    // an equi-join on (gram, ±1 position bucket), not position-agnostic
    // contains. Mirror the exact key sets DedupQueries emits (grams kept
    // literal — xxhash64 collisions only ADD candidates) and pin the
    // losslessness claim the plan rests on: every 40-char pair within
    // levenshtein 5 shares at least one join key.
    def aKeys(pa: String): Set[(String, Int)] =
      chunks.flatMap { case (cs, cl) =>
        val base = (cs - 1) / 6
        ((base - 1) to (base + 1)).filter(bk => bk >= 0 && bk <= 5)
          .map(bk => (pa.slice(cs - 1, cs - 1 + cl), bk))
      }.toSet
    def bKeys(pb: String): Set[(String, Int)] =
      (for {
        len <- Seq(7, 6) if pb.length >= len
        i   <- 1 to (pb.length - len + 1)
      } yield (pb.slice(i - 1, i - 1 + len), (i - 1) / 6)).toSet
    check("gramJoinLossless", Prop.forAll(gen) { case (pa, pb) =>
      pa.length < 40 || lev(pa, pb) > 5 || (aKeys(pa) intersect bKeys(pb)).nonEmpty
    })
  }

  test("winnowing guarantee: shared substring >= k+w-1 chars ⇒ shared fingerprint") {
    import graft.expressions.Winnow
    import org.apache.spark.unsafe.types.UTF8String
    def fps(s: String): Set[Long] =
      Winnow.fingerprints(UTF8String.fromString(s), 8, 8).toLongArray().toSet
    val asciiStr = (n: Int) => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)
    val gen = for {
      common <- Gen.chooseNum(15, 40).flatMap(asciiStr) // >= k+w-1 = 15
      preA   <- Gen.chooseNum(0, 30).flatMap(asciiStr)
      sufA   <- Gen.chooseNum(0, 30).flatMap(asciiStr)
      preB   <- Gen.chooseNum(0, 30).flatMap(asciiStr)
      sufB   <- Gen.chooseNum(0, 30).flatMap(asciiStr)
    } yield (preA + common + sufA, preB + common + sufB)
    check("winnowGuarantee", Prop.forAll(gen) { case (a, b) =>
      (fps(a) intersect fps(b)).nonEmpty
    })
  }

  test("ZOrder.interleave: dominance monotonicity, masking, bijectivity in range") {
    import graft.expressions.ZOrder
    val coord = Gen.chooseNum(0L, ZOrder.Mask)
    val gen = for { x1 <- coord; y1 <- coord; x2 <- coord; y2 <- coord } yield (x1, y1, x2, y2)
    // componentwise dominance implies curve order — the property that makes
    // min/max file stats on the z column sound for BOTH source columns
    check("zorderDominance", Prop.forAll(gen) { case (x1, y1, x2, y2) =>
      val (lox, hix) = (math.min(x1, x2), math.max(x1, x2))
      val (loy, hiy) = (math.min(y1, y2), math.max(y1, y2))
      ZOrder.interleave(lox, loy) <= ZOrder.interleave(hix, hiy)
    })
    // in-range pairs map to distinct codes (bit-interleave is a bijection)
    check("zorderInjective", Prop.forAll(gen) { case (x1, y1, x2, y2) =>
      (x1 == x2 && y1 == y2) ||
        ZOrder.interleave(x1, y1) != ZOrder.interleave(x2, y2)
    })
    // inputs above 21 bits cannot perturb the code
    val big = Gen.chooseNum(0L, Long.MaxValue / 2)
    check("zorderMask", Prop.forAll(coord, coord, big) { (x, y, noise) =>
      ZOrder.interleave(x | (noise << 21), y) == ZOrder.interleave(x, y) &&
        ZOrder.interleave(x, y | (noise << 21)) == ZOrder.interleave(x, y)
    })
  }
}

/**
 * The offset log and its API handlers against a `List` of every record
 * written: random write / oversize write / read / range / page / watch /
 * snapshot sequences under 1–40-record segments, each response compared
 * with what the model says the retained records are.
 */
object LogModel extends Commands {
  import graft.streaming.Api

  /** Records here are at most this long; longer ones are the oversize case. */
  val MaxBytes = 8

  /** The log's first offset, its segment size, and every record written. */
  final case class State(start: Long, seg: Int, written: List[Array[Byte]]) {
    def next: Long = start + written.size
    // the active segment holds the last partial-or-full segment, the
    // history the one before it
    def earliest: Long =
      if (written.isEmpty) start else start + math.max(0, (written.size - 1) / seg - 1) * seg
    def retained: List[(Long, Seq[Byte])] =
      written.zipWithIndex.map { case (b, i) => (start + i, b.toSeq) }.filter(_._1 >= earliest)
  }
  type Sut = OffsetLog

  def canCreateNewSut(newState: State, initSuts: Iterable[State], runningSuts: Iterable[Sut]) = true
  def newSut(state: State): Sut = new OffsetLog(state.start, state.seg, MaxBytes.toLong)
  def destroySut(sut: Sut): Unit = ()
  def initialPreCondition(state: State): Boolean = state.written.isEmpty
  def genInitialState: Gen[State] =
    for (start <- Gen.chooseNum(0L, 100L); seg <- Gen.chooseNum(1, 40)) yield State(start, seg, Nil)

  def genCommand(state: State): Gen[Command] = {
    val offset = Gen.chooseNum(state.earliest - 3, state.next + 3)
    Gen.frequency(
      // the record's own index up front, so a record read at a wrong offset shows
      8 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(rnd => Write((state.written.size.toString.getBytes("UTF-8") ++ rnd).take(MaxBytes))),
      1 -> Gen.chooseNum(MaxBytes + 1, 3 * MaxBytes).map(n => WriteOversize(Array.fill(n)(1.toByte))),
      2 -> offset.map(Read(_)),
      1 -> Gen.const(Range),
      1 -> Gen.const(GetEvents),
      2 -> Gen.option(offset).map(Watch(_)),
      1 -> Gen.const(Snapshot))
  }

  private def records(seq: Seq[(Long, Array[Byte])]): List[(Long, Seq[Byte])] =
    seq.map { case (o, b) => (o, b.toSeq) }.toList

  final case class Write(record: Array[Byte]) extends SuccessCommand {
    type Result = Either[Any, Long]
    def run(sut: Sut): Result = sut.write(record)
    def nextState(state: State): State = state.copy(written = state.written :+ record)
    def preCondition(state: State): Boolean = true
    def postCondition(state: State, result: Result): Prop = result == Right(state.next)
  }

  final case class WriteOversize(record: Array[Byte]) extends SuccessCommand {
    type Result = Boolean
    def run(sut: Sut): Result = sut.write(record) == Left(sut.RecordTooLarge)
    def nextState(state: State): State = state
    def preCondition(state: State): Boolean = true
    def postCondition(state: State, result: Result): Prop = result
  }

  final case class Read(offset: Long) extends SuccessCommand {
    type Result = Either[EventLog.ReadError, Seq[Byte]]
    def run(sut: Sut): Result = sut.read(offset).map(_.toSeq)
    def nextState(state: State): State = state
    def preCondition(state: State): Boolean = true
    def postCondition(state: State, result: Result): Prop =
      result == (if (offset >= state.next) Left(FutureOffset)
                 else if (offset < state.earliest) Left(OutOfRange)
                 else Right(state.retained.find(_._1 == offset).get._2))
  }

  case object Range extends SuccessCommand {
    type Result = (LogRange, Int, Option[LogRange])
    def run(sut: Sut): Result = (sut.range, sut.size, Api.range(sut) match {
      case Api.Ok(r) => Some(r)
      case _         => None
    })
    def nextState(state: State): State = state
    def preCondition(state: State): Boolean = true
    def postCondition(state: State, result: Result): Prop = {
      val r = if (state.written.isEmpty) LogRange(-1, -1) else LogRange(state.earliest, state.next - 1)
      result == ((r, state.retained.size, if (r.isEmpty) None else Some(r)))
    }
  }

  case object GetEvents extends SuccessCommand {
    type Result = Option[List[(Long, Seq[Byte])]]
    def run(sut: Sut): Result = Api.getEvents(sut) match {
      case Api.Ok(page: IndexedSeq[(Long, Array[Byte])] @unchecked) => Some(records(page))
      case Api.NoContent                                            => None
      case _                                                        => Some(Nil) // never a model answer
    }
    def nextState(state: State): State = state
    def preCondition(state: State): Boolean = true
    def postCondition(state: State, result: Result): Prop =
      result == (if (state.written.isEmpty) None else Some(state.retained.takeRight(Api.PageSize)))
  }

  final case class Watch(offset: Option[Long]) extends SuccessCommand {
    type Result = Either[Int, List[(Long, Seq[Byte])]]
    def run(sut: Sut): Result = Api.watch(sut, "true", offset.map(_.toString)) match {
      case Api.Ok(seq: IndexedSeq[(Long, Array[Byte])] @unchecked) => Right(records(seq))
      case other                                                  => Left(other.status)
    }
    def nextState(state: State): State = state
    def preCondition(state: State): Boolean = true
    def postCondition(state: State, result: Result): Prop = {
      val start = offset.getOrElse(state.next)
      result == (if (start < 0 || (state.written.nonEmpty && start < state.earliest)) Left(400)
                 else Right(state.retained.filter(_._1 >= start)))
    }
  }

  case object Snapshot extends SuccessCommand {
    type Result = (List[(Long, Seq[Byte])], Option[List[(Long, Seq[Byte])]])
    def run(sut: Sut): Result = (records(sut.snapshot), sut.watch(Some(0L)).toOption.map(records))
    def nextState(state: State): State = state
    def preCondition(state: State): Boolean = true
    def postCondition(state: State, result: Result): Prop = {
      // watch from 0: the whole retained log, or a 400 once 0 is below the earliest offset
      val fromZero = if (state.written.nonEmpty && state.earliest > 0) None else Some(state.retained)
      result == ((state.retained, fromZero))
    }
  }
}
