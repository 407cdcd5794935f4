package graft

import graft.queries.{Cert, CertFailed, Holds, Same}
import org.scalatest.funsuite.AnyFunSuite

/** The scale-certificate runner (`graft.Verify --certs`) and the registry's
  * certificates. The runner must fail on every kind of violation, naming
  * the certificate and stage; every registered certificate must hold on
  * the sf0.01 slice, except prune128, which needs a factor-1000 slice and
  * must refuse smaller ones. */
class CertSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def runLines(certs: Cert*): (Seq[String], Option[CertFailed]) = {
    val lines = Seq.newBuilder[String]
    val failed =
      try { Cert.run(spark, dir, certs, lines += _); None }
      catch { case e: CertFailed => Some(e) }
    (lines.result(), failed)
  }

  test("Same with unequal frames fails and names the stage") {
    import spark.implicits._
    val (lines, failed) = runLines(Cert("unit") { (_, _, check) =>
      check(Same("equal", Seq(1, 2, 2).toDF("x"), Seq(2, 1, 2).toDF("x")))
      check(Same("unequal", Seq(1, 2, 2).toDF("x"), Seq(1, 2).toDF("x")))
      check(Holds("never-reached", ok = true, ""))
    })
    assert(lines.length === 2)
    assert(lines.head.startsWith("[unit-cert] equal rows=3 prod_only=0 indep_only=0 "))
    assert(lines(1).startsWith("[unit-cert] unequal rows=3 prod_only=1 indep_only=0 "))
    val msg = failed.map(_.getMessage).getOrElse(fail("unequal frames must fail"))
    assert(msg.contains("unit certificate FAILED at stage unequal"), msg)
  }

  test("Same with an empty production side fails as vacuous") {
    import spark.implicits._
    val (_, failed) = runLines(Cert("unit") { (_, _, check) =>
      check(Same("empty", Seq.empty[Int].toDF("x"), Seq.empty[Int].toDF("x")))
    })
    val msg = failed.map(_.getMessage).getOrElse(fail("an empty prod must fail"))
    assert(msg.contains("stage empty") && msg.contains("vacuous"), msg)
  }

  test("a failing Holds fails with its detail") {
    val (lines, failed) = runLines(Cert("unit") { (_, _, check) =>
      check(Holds("bound", ok = false, "rel_err=0.2 (bound 0.15)"))
    })
    assert(lines.length === 1 && lines.head.startsWith("[unit-cert] bound ok=false"))
    val msg = failed.map(_.getMessage).getOrElse(fail("a false Holds must fail"))
    assert(msg.contains("stage bound") && msg.contains("rel_err=0.2"), msg)
  }

  private val registered = SparkEntry.registry.flatMap(_.certs)

  test("the registry carries the thirteen certificates, each once") {
    assert(registered.map(_.name).sorted === Seq("bpe", "cc", "curate", "incr", "keep",
      "lsh", "prune128", "semdedup", "sketch", "stream", "streamjoin", "substr", "windup"))
  }

  registered.filterNot(_.name == "prune128").foreach { cert =>
    test(s"${cert.name} certificate holds on sf0.01") {
      val (lines, failed) = runLines(cert)
      failed.foreach(e => fail(e.getMessage + "\n" + lines.mkString("\n")))
      assert(lines.nonEmpty && lines.forall(_.startsWith(s"[${cert.name}-cert] ")))
    }
  }

  test("prune128 refuses sf0.01: its coarse level needs g >= 128") {
    val (_, failed) = runLines(registered.filter(_.name == "prune128"): _*)
    val msg = failed.map(_.getMessage).getOrElse(fail("prune128 must refuse sf0.01"))
    assert(msg.contains("stage coarse-level") && msg.contains("g >= 128"), msg)
  }
}
