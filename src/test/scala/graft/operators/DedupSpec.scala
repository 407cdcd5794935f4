package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("shingles: distinct word n-grams, empty below n words") {
    val df = Seq((1, "a b c d"), (2, "a b"), (3, "x x x x x")).toDF("id", "text")
    val out = df.select(col("id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(out(1) === Seq("a b c", "b c d"))
    assert(out(2) === Seq.empty)          // shorter than the shingle size
    assert(out(3) === Seq("x x x"))       // distinct collapses repeats
  }

  test("codegen shingles are element-identical to the HOF reference") {
    val parity = Tables.documents(spark, dir)
      .select(Dedup.shingles(col("text")).as("gen"), Dedup.shinglesHof(col("text")).as("hof"))
      .filter(col("gen") =!= col("hof")).count()
    assert(parity === 0L)
  }

  test("minhash signature is deterministic and equal for equal shingle sets") {
    val df = Seq((1, "a b c d e"), (2, "a b c d e"), (3, "p q r s t")).toDF("id", "text")
    val sigs = df.select(col("id"), Dedup.minhashSignature(Dedup.shingles(col("text"))).as("sig"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1) === sigs(2))
    assert(sigs(1) !== sigs(3))
    assert(sigs(1).length === 64)
  }

  test("LSH candidate pairs are a superset of exact near-dup pairs (recall=1 here)") {
    val docs = Tables.documents(spark, dir)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshCandidates(docs, "doc_id", "text")
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(exact.subsetOf(lsh),
      s"LSH missed ${(exact -- lsh).size} of ${exact.size} exact pairs")
  }

  test("minhashLshPairs == exactJaccardPairs at threshold 0.8") {
    val docs = Tables.documents(spark, dir)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh === exact)
  }

  test("bucket-aggregation plan: same rows as the join plan, disjoint operator family") {
    val docs = Tables.documents(spark, dir)
    val join = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
    val gb   = Dedup.minhashLshPairsViaBuckets(docs, "doc_id", "text", threshold = 0.8)
    val j = join.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val g = gb.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(j.nonEmpty && g === j,
      s"dual plans diverge: join-only ${(j -- g).size}, gb-only ${(g -- j).size}")
    // the certificate is only as strong as the plans are different: the
    // candidate stage must be an aggregation+generator, not a band self-join
    val plan = gb.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected collect_list aggregation in the bucket plan:\n$plan")
    assert(plan.contains("Generate"),
      s"expected HOF pair expansion Generate in the bucket plan:\n$plan")
  }

  test("windup dual plans agree: fingerprint self-join == bucket aggregation") {
    // unit-level pin of q_windup's `windup` certificate construction (the
    // factor-1000 witness for q_windup's quadratic-oracle exclusion):
    // the rare-filtered shared-fingerprint pair counts must be identical
    // through the self-join and the collect_list strict-suffix expansion
    val fr = Dedup.rareFingerprints(
      Tables.documents(spark, dir).where(col("n_chars") >= 15), "doc_id", "text")
    val join = Dedup.windupPairsFrom(fr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gb = Dedup.windupPairsViaBucketsFrom(fr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(join.nonEmpty, "corpus should contain verbatim-span near-dups")
    assert(gb === join,
      s"windup dual plans diverge: join-only ${(join -- gb).size}, gb-only ${(gb -- join).size}")
  }

  test("minhashLshPairsBetween finds exactly the cross-side exact pairs, and only those") {
    val docs     = Tables.documents(spark, dir)
    val incoming = docs.where(col("doc_id") % 10 === 0)
    val existing = docs.where(col("doc_id") % 10 =!= 0)
    // exact cross-side pair set: all-pairs jaccard restricted to (in, ex)
    // in either orientation (exactJaccardPairs orders by id, the between
    // variant by side)
    val allExact: Set[(Long, Long)] = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = allExact.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }
    val between = Dedup.minhashLshPairsBetween(incoming, existing, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(between === exact)
    // no within-side pairs can appear by construction
    assert(between.forall { case (a, b) => a % 10 == 0 && b % 10 != 0 })
  }

  test("HOF minhash at 64 hashes is bit-identical to the codegen expression") {
    // only possible because Dedup.seeds delegates to HashSeeds.affineSeeds;
    // a second seed=42 RNG with a different draw order passed every other
    // test while silently disagreeing with the codegen family
    val parity = Tables.documents(spark, dir)
      .select(Dedup.shingles(col("text")).as("sh"))
      .select(Dedup.minhashSignature(col("sh")).as("gen"),
        Dedup.minhashSignatureHof(col("sh"), 64).as("hof"))
      .filter(col("gen") =!= col("hof")).count()
    assert(parity === 0L)
  }

  test("SimHashOracle corpus contract: driver-testdata tokens are ASCII and at most 8 bytes") {
    // the q_simhash oracle replays only XXH64's short path (one 8-byte
    // round + 4-byte chunk + 3 tail bytes); this pins the corpus property
    // that makes that sufficient, at every SF the correctness gate runs on.
    // Scale-rehearsal dirs from graft.tools.ScaleUp preserve it too (tags
    // are applied tag-then-truncate to 8 bytes), making them eligible for
    // the full oracle sweep; scripts/sf1_sweep.sh re-asserts the bound on
    // the generated slice before comparing.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val d = s"/root/testdata/$sf"
      if (new java.io.File(d).isDirectory) {
        val bad = Tables.documents(spark, d)
          .select(explode(split(col("text"), " +")).as("tok"))
          .where(length(col("tok")) > 0)
          .where(octet_length(col("tok")) > 8 || col("tok").rlike("[^\\x01-\\x7F]"))
          .count()
        assert(bad === 0L, s"$d violates the SimHashOracle token contract")
      }
    }
  }

  test("lineDedup: corpus-wide keep-first per segment, within-doc repeats dropped, docs reassembled") {
    // 4-token docs with segTokens=2 → two segments each, A="a b",
    // B="c d", C="e f". First occurrence is smallest (doc_id, pos):
    // A@(1,0), B@(1,1), C@(2,1). So doc1=(A,B) keeps both; doc2=(A,C)
    // loses A to doc1 and keeps C; doc3=(C,C) loses its pos-0 copy to
    // doc2 and its pos-1 copy as a repeat — kept 0, dropped 2.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b e f"),
      (3L, "e f e f")).toDF("doc_id", "text")
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // BOTH plans — the window form and the skew-robust agg+join form —
    // must produce the identical result
    for (plan <- Seq(Dedup.lineDedup _, Dedup.lineDedupAgg _)) {
      val out = plan(docs, "doc_id", "text", 2)
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(out.map(t => (t._1, t._2, t._3)) ===
        Seq((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
      // reassembly fingerprints the surviving text in segment order
      assert(out.map(_._4) === Seq(md5hex("a b c d"), md5hex("e f"), md5hex("")))
      // invariants: kept = distinct segments corpus-wide; kept+dropped = all
      assert(out.map(_._2).sum === 3L)
      assert(out.map(t => t._2 + t._3).sum === 6L)
    }
  }

  test("substrDedup: sliding-span keep-first removal, coverage union, both plans agree") {
    // k=3 spans for readability (production default is 10). Layout:
    //  doc1 "a b c d e"       — first holder of every span it has
    //  doc2 "x a b c d y"     — contains doc1's "a b c" (pos1) and
    //                           "b c d" (pos2): covered positions 1..4
    //                           → kept "x y" (2 kept, 4 dropped)
    //  doc3 "p q"             — shorter than k: untouched
    //  doc4 "m n o m n o"     — within-doc repeat: "m n o" first at pos0,
    //                           dup at pos3 → positions 3..5 cut → kept
    //                           "m n o" (3 kept, 3 dropped). Middle spans
    //                           ("n o m", "o m n") are unique.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "p q"),
      (4L, "m n o m n o")).toDF("doc_id", "text")
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    for (plan <- Seq(Dedup.substrDedup _, Dedup.substrDedupAgg _)) {
      val out = plan(docs, "doc_id", "text", 3)
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(out.map(t => (t._1, t._2, t._3)) ===
        Seq((1L, 5L, 0L), (2L, 2L, 4L), (3L, 2L, 0L), (4L, 3L, 3L)))
      assert(out.map(_._4) === Seq(
        md5hex("a b c d e"), md5hex("x y"), md5hex("p q"), md5hex("m n o")))
    }
    // the two plans are bit-identical (the --substr-cert equality, at
    // spec scale)
    val a = Dedup.substrDedup(docs, "doc_id", "text", 3)
    val b = Dedup.substrDedupAgg(docs, "doc_id", "text", 3)
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  test("fixed-k sliding window equals the any-length >= k contract (property, random corpora)") {
    // VERDICT r13 item 7: certify the substrDedup scaladoc theorem — the
    // fixed-k sliding window + coverage union removes EXACTLY the
    // positions inside some duplicated substring of length >= k with an
    // earlier occurrence (Lee et al.'s any-length contract, keep-first).
    // The reference below is DEFINITIONAL and deliberately not window-
    // shaped: it enumerates every substring of EVERY length l >= k,
    // records each content's earliest (doc, pos), and cuts a position iff
    // a containing substring occurs earlier. Corpora are small random
    // token streams over a tiny vocabulary (so >= k-length collisions
    // arise naturally) with planted cross-doc run copies of RANDOM
    // lengths in [k, 2k+5] and periodic self-repetition.
    val k = 5
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def reference(corpus: Seq[(Long, Array[String])]): Map[Long, (Long, Long, String)] = {
      val first = scala.collection.mutable.Map.empty[String, (Long, Int)]
      for ((d, w) <- corpus.sortBy(_._1); s <- w.indices; l <- k to (w.length - s)) {
        val key = w.slice(s, s + l).mkString(" ")
        if (!first.contains(key)) first(key) = (d, s) // corpus scanned in (doc, pos) order
      }
      corpus.map { case (d, w) =>
        val cut = w.indices.filter { p =>
          (0 to p).exists { s =>
            (k to (w.length - s)).exists { l =>
              p < s + l && {
                val f = first(w.slice(s, s + l).mkString(" "))
                f._1 < d || (f._1 == d && f._2 < s)
              }
            }
          }
        }.toSet
        val kept = w.indices.filterNot(cut)
        (d, (kept.size.toLong, cut.size.toLong, md5hex(kept.map(w).mkString(" "))))
      }.toMap
    }
    val rnd = new scala.util.Random(1913L)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    (1 to 8).foreach { trial =>
      val base = (0 until 4).map { d =>
        (d.toLong, Array.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))))
      }
      // plant a random-length run copy from one doc into another, and a
      // periodic self-repeat in a third
      val runLen = k + rnd.nextInt(k + 6)
      val srcDoc = base(rnd.nextInt(4))._2
      val corpus = base.map { case (d, w) =>
        if (d == 1L && srcDoc.length >= runLen) {
          val s = rnd.nextInt(srcDoc.length - runLen + 1)
          (d, w ++ srcDoc.slice(s, s + runLen))
        } else if (d == 2L) {
          val period = w.take(3 + rnd.nextInt(3))
          (d, w ++ period ++ period ++ period)
        } else (d, w)
      }
      val docs = corpus.map { case (d, w) => (d, w.mkString(" ")) }.toDF("doc_id", "text")
      val want = reference(corpus)
      for (plan <- Seq(Dedup.substrDedup _, Dedup.substrDedupAgg _)) {
        val got = plan(docs, "doc_id", "text", k).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
        assert(got === want, s"trial $trial: corpus=${corpus.map(_._2.mkString(" "))}")
      }
    }
  }

  test("simhash: equal text equal hash; near-dup pairs have small hamming distance") {
    val df = Seq((1, "the quick brown fox jumps over the lazy dog"),
                 (2, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val hs = df.select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    assert(hs(0) === hs(1))

    // codegen expression is bit-identical to the interpreted HOF reference
    val parity = Tables.documents(spark, dir)
      .select(Dedup.simhash(col("text")).as("gen"), Dedup.simhashHof(col("text")).as("hof"))
      .filter(col("gen") =!= col("hof")).count()
    assert(parity === 0L)

    // the corpus' planted near-dups (jaccard >= 0.8) should mostly sit within
    // hamming distance 8 of each other
    val docs  = Tables.documents(spark, dir)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("da", "db")
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
    val withDist = exact
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
      .select(Dedup.hammingDistance(col("siga"), col("sigb")).as("d"))
      .collect().map(_.getInt(0))
    assert(withDist.nonEmpty)
    val close = withDist.count(_ <= 8)
    assert(close.toDouble / withDist.length >= 0.8,
      s"only $close/${withDist.length} near-dup pairs within hamming 8")
  }

  test("simhashPairs finds the planted near-dups via quarter blocking") {
    val docs  = Tables.documents(spark, dir)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxDistance = 8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = exact.intersect(sim)
    assert(found.size.toDouble / exact.size >= 0.8,
      s"simhash found ${found.size}/${exact.size} planted pairs")
  }

  test("LSH S-curve: shipped 16x4 banding has ~certain recall at corpus similarity") {
    // the planted near-dups sit at jaccard >= 0.98; the 16-band/4-row
    // default must make them near-certain candidates...
    assert(Dedup.candidateProbability(0.98, 16, 4) > 1 - 1e-9)
    // ...while a sub-threshold pair (0.5) stays mostly unpaired
    assert(Dedup.candidateProbability(0.5, 16, 4) < 0.7)
    // monotone in s
    val ps = (1 to 9).map(i => Dedup.candidateProbability(i / 10.0, 16, 4))
    assert(ps === ps.sorted)
    // the tuner is recall-first and reproduces the shipped default
    val (b, r) = Dedup.tuneLsh(0.8, 64)
    assert((b, r) === (16, 4))
    assert(Dedup.candidateProbability(0.8, b, r) > 0.95,
      s"tuned ($b,$r) must catch threshold pairs")
    assert(Dedup.candidateProbability(0.5, b, r) <
      Dedup.candidateProbability(0.5, 64, 1),
      "tuned config must false-candidate less than the recall-max config")
  }

  test("connectedComponents labels transitive chains with the cluster min id") {
    // 1-2-3-4 chain (2~1, 2~3, 3~4), pair 10-11, chain 20-21-22
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("da", "db")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents converges on a path graph in O(diameter) rounds") {
    val n = 17
    val path = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("da", "db")
    val comp = Dedup.connectedComponents(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === n)
    assert(comp.values.forall(_ == 1L))
    // and refuses to return a non-fixpoint when the round budget is too small
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(path, maxRounds = 3))
    assert(e.getMessage.contains("converge"))
  }

  test("components over LSH pairs equal components over the exact pair graph") {
    val docs = Tables.documents(spark, dir)
    val viaLsh = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExact = Dedup.connectedComponents(
      Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLsh === viaExact)
    assert(viaLsh.nonEmpty)
  }
}
