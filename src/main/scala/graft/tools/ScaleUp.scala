package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/**
 * Derives a larger scale factor from an existing testdata directory by
 * unioning `factor` key-shifted copies of each table — the scale-rehearsal
 * harness for measuring how the batch registry's plans behave at 10× the
 * largest driver-generated SF (sf0.1 → ~sf1).
 *
 * Key design points, chosen so a copy-union actually measures SCALING and
 * not an artifact:
 *  - every table's keys are offset per copy (doc_id/vec_id/orderkey by
 *    10M, custkey/user_id by 1M, event_id by the exact source count so the
 *    dense 0..N-1 id space — which the log-bootstrap offset==event_id
 *    oracle alignment relies on — is preserved) so key cardinality grows
 *    10× like a real SF bump — state and shuffle keys widen, not deepen;
 *  - `documents.text` is perturbed per copy by prefixing every token with
 *    a copy tag and re-truncating to 8 bytes ("c3the qu c3ick …" from
 *    "the quick"): within a copy the near-dup/winnowing structure is
 *    preserved (distinct tokens can only collapse when they share their
 *    first 6 chars — rare in the ≤8-byte driver corpus), across copies
 *    Jaccard collapses to ~0 — so MinHash-LSH/winnowing workloads scale
 *    like 10 independent corpora instead of exploding quadratically on 10
 *    exact clones of every document (which would measure the clone blowup,
 *    not the plan). The truncation keeps every token ASCII and ≤8 bytes,
 *    the corpus contract [[graft.queries.SimHashOracle]] replays — so
 *    scaled dirs are ORACLE-ELIGIBLE: the full DuckDB compare can run
 *    against them (the sf1 sweep artifact), not just the bench;
 *  - `embeddings.embedding` is sign-flipped per copy: copy i > 0
 *    multiplies coordinate j by ±1, the sign drawn from a hash of (i, j).
 *    Negation is exact in floating point and the sign pattern is the same
 *    for every vector of a copy, so norms and cosines within a copy stay
 *    bit-equal to the source's, while cosines across copies fall to ~0 —
 *    vector dedup (q_embdup/q_semdedup) scales like independent corpora
 *    instead of finding `factor` exact clones of every vector;
 *  - dimension tables (region/nation/supplier/part) stay fixed, like the
 *    broadcast side of a real warehouse at any SF; lineitem keeps its
 *    part/supp keys so dim joins stay valid;
 *  - `events.ts` ingresses through [[graft.Tables.readEvents]] (the one
 *    schema-adaptive normalizer — any of the plausible on-disk encodings
 *    works as a source), is shifted per copy by the source span in µs, and
 *    is written back as TIMESTAMP_NTZ — the driver's current on-disk
 *    encoding — so the scaled slice exercises the exact ingress path the
 *    driver-generated SFs do, on both the Spark side (Tables.events) and
 *    the DuckDB side of the oracle sweep. The shift preserves global
 *    (ts, event_id) order — the invariant the offset==event_id stream
 *    oracles replay.
 *
 * Usage: runMain graft.tools.ScaleUp <srcDir> <destDir> [factor=10]
 */
object ScaleUp {

  private val BigStep  = 10000000L // doc/vec/event/order keyspace stride
  private val UserStep = 1000000L  // user/cust keyspace stride

  /** Order-preserving balanced union: a left-deep `reduce(_ unionAll _)`
    * builds a plan tree `factor` deep, which at factor 1000 (the sf100
    * rehearsal) risks analyzer stack overflow and quadratic tree walks;
    * pairwise reduction keeps depth at ~log2(factor) with the same copy
    * order (CombineUnions flattens either shape to one Union node, but it
    * must survive analysis of the raw tree first). */
  private def copies(factor: Int)(one: Int => DataFrame): DataFrame = {
    // factor <= 0 would hand reduce an empty Seq, which `case many` matches
    // forever (grouped(2) of Nil is Nil) — refuse up front instead of hanging
    require(factor >= 1, s"factor must be >= 1, got $factor")
    @annotation.tailrec
    def reduce(dfs: Seq[DataFrame]): DataFrame = dfs match {
      case Seq(only) => only
      case many      => reduce(many.grouped(2).map {
        case Seq(a, b) => a unionAll b
        case Seq(a)    => a
      }.toSeq)
    }
    reduce((0 until factor).map(one))
  }

  /** Copies collide (aliased keyspace, not 10× cardinality) if the source
    * keyspace is wider than the per-copy stride — refuse loudly. */
  private def requireBelow(df: DataFrame, keyCol: String, step: Long): Unit = {
    val mx = df.agg(max(col(keyCol))).first()
    if (!mx.isNullAt(0)) {
      val m = mx.get(0).asInstanceOf[Number].longValue()
      require(m < step,
        s"$keyCol max $m >= copy stride $step: shifted copies would collide")
    }
  }

  def main(args: Array[String]): Unit = {
    val src    = args(0)
    val dest   = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession
      .configure(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // File counts were sized for the factor-10/100 rehearsals; beyond that
    // they scale with the data (factor 1000 would otherwise pack ~1.5 GiB
    // per lineitem file — far past maxPartitionBytes-friendly sizing — and
    // serialize the write through 16 tasks). Factors <= 100 keep the exact
    // historical layout, so the committed sf1/sf10 artifacts reproduce.
    val fileScale = math.max(1, factor / 100)
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files * fileScale).write.mode("overwrite").parquet(s"$dest/$name.parquet")

    // dims: fixed at any SF (the broadcast side) — always one file, the
    // fileScale applies only to the factor-scaled fact tables
    for (t <- Seq("region", "nation", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet").repartition(1)
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")

    val customer = spark.read.parquet(s"$src/customer.parquet")
    requireBelow(customer, "c_custkey", UserStep)
    write(copies(factor) { i =>
      customer.withColumn("c_custkey", col("c_custkey") + lit(i * UserStep))
    }, "customer", 4)

    val orders = spark.read.parquet(s"$src/orders.parquet")
    requireBelow(orders, "o_orderkey", BigStep)
    requireBelow(orders, "o_custkey", UserStep)
    write(copies(factor) { i =>
      orders
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * BigStep))
        .withColumn("o_custkey", col("o_custkey") + lit(i * UserStep))
    }, "orders", 8)

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    requireBelow(lineitem, "l_orderkey", BigStep)
    write(copies(factor) { i =>
      lineitem.withColumn("l_orderkey", col("l_orderkey") + lit(i * BigStep))
    }, "lineitem", 16)

    // events: any source encoding is accepted (Tables.readEvents normalizes
    // to the canonical µs TimestampType); all ts arithmetic below is in µs
    val events = graft.Tables.readEvents(spark, s"$src/events.parquet")
    requireBelow(events, "user_id", UserStep)
    // events shift by the EXACT source count, not BigStep: driver event_ids
    // are dense 0..N-1 and the log-bootstrap oracle alignment
    // (log_offset == event_id, SURVEY §2.1 O2) only holds if the scaled
    // slice stays dense — a 10M stride would leave gaps and break every
    // offset-aligned stream oracle at sf1
    val evStats = events.agg(count(lit(1)), min(col("event_id")), max(col("event_id")),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).first()
    val evCount = evStats.getLong(0)
    require(evCount > 0, "events table is empty — nothing to scale")
    require(evStats.getLong(1) == 0L && evStats.getLong(2) == evCount - 1,
      s"expected dense 0..N-1 event_ids, got min=${evStats.getLong(1)} max=${evStats.getLong(2)} n=$evCount")
    // ts shifts per copy by the source span + 1h: a 10× event log covers a
    // 10× TIMELINE (copy i strictly after copy i-1), not 10 interleaved
    // replays of the same interval. Load-bearing for the stream oracles:
    // EventFeed replays in (ts, event_id) order and the log bootstrap
    // assigns dense arrival offsets, so offset == event_id only holds when
    // ts order and event_id order agree GLOBALLY — true per copy by driver
    // construction, true across copies only if later copies' timestamps
    // strictly follow earlier ones. (Found at sf1: interleaved-ts copies
    // hash-matched on rows but scrambled every offset-aligned column.)
    val tsSpanUs = evStats.getLong(4) - evStats.getLong(3) + 3600L * 1000000L
    write(copies(factor) { i =>
      events
        .withColumn("event_id", col("event_id") + lit(i * evCount))
        // shift in µs space, then store as TIMESTAMP_NTZ (the driver's
        // current on-disk encoding; under the pinned UTC session TZ the
        // cast is a wall-clock identity)
        .withColumn("ts",
          timestamp_micros(unix_micros(col("ts")) + lit(i * tsSpanUs))
            .cast(TimestampNTZType))
        .withColumn("user_id", col("user_id") + lit(i * UserStep))
    }, "events", 16)

    val documents = spark.read.parquet(s"$src/documents.parquet")
    requireBelow(documents, "doc_id", BigStep)
    // the tag-then-truncate below cuts at 8 CHARS; that equals the 8-BYTE
    // SimHashOracle contract only for ASCII text, so enforce the
    // precondition here instead of comment-asserting it (a non-ASCII source
    // corpus would otherwise emit >8-byte tokens the sweep catches only
    // after the full slice is generated)
    val nonAscii = documents
      .where(octet_length(col("text")) =!= length(col("text"))).count()
    require(nonAscii == 0,
      s"$nonAscii documents contain non-ASCII text: 8-char truncation would not bound tokens at 8 bytes")
    write(copies(factor) { i =>
      // tag + truncate keeps every token ASCII ≤8 bytes — the SimHashOracle
      // corpus contract — while still zeroing cross-copy Jaccard
      val text =
        if (i == 0) col("text")
        else array_join(
          transform(split(col("text"), " +"),
            t => substring(concat(lit(s"c$i"), t), 1, 8)), " ")
      documents
        .withColumn("doc_id", col("doc_id") + lit(i * BigStep))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 16)

    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")
    requireBelow(embeddings, "vec_id", BigStep)
    write(copies(factor) { i =>
      val shifted = embeddings.withColumn("vec_id", col("vec_id") + lit(i * BigStep))
      if (i == 0) shifted
      else shifted.withColumn("embedding", transform(col("embedding"),
        (x, j) => when(pmod(xxhash64(lit(i), j), lit(2)) === 0, x).otherwise(-x)))
    }, "embeddings", 8)

    println(s"""{"scaleup":"done","src":"$src","dest":"$dest","factor":$factor}""")
    spark.stop()
  }
}
