package graft.queries

import graft.Tables
import graft.functions.Money
import graft.operators.TemporalJoins
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Advanced relational coverage (SURVEY §2.2 rows that round 1 left thin):
 * as-of join, bounded range join, sessionization, cube/grouping sets,
 * statistical aggregates, pivot, explode, array higher-order functions,
 * window frames and distribution functions, approximate distinct.
 *
 * Every oracle below is written in engine-portable SQL so the same text
 * runs on DuckDB; the Spark side uses the native API (and for the temporal
 * joins, the scale-shaped operators in [[TemporalJoins]] — which must
 * produce results identical to the naive SQL formulation, which is exactly
 * what the hash check proves).
 */
object AdvancedQueries {

  // q_approxd / q_hll / q_approxq have no SQL-portable oracle at ANY scale
  // (engine-specific binary sketches), so their witness is the accuracy /
  // mergeability contract each sketch publishes, checked against exact
  // aggregates on the slice through the SketchChecks code SketchSpec pins.
  private val sketchCert = Cert("sketch") { (spark, dir, check) =>
    import graft.functions.SketchChecks
    val ev = Tables.events(spark, dir).cache()
    // default rsd 0.05 → 3-sigma bound 0.15 (the bound SketchSpec pins)
    val d = SketchChecks.approxDistinct(ev, "user_id")
    check(Holds("approxd", d.relErr <= 0.15,
      f"exact=${d.exact} approx=${d.approx} rel_err=${d.relErr}%.4f (bound 0.15)"))
    // lgK 12 → rsd ~0.0163, 3-sigma 0.05 on BOTH build paths; the union is
    // lossless at the register level, but the HIP and composite estimators
    // may split slightly (HllCheck scaladoc), so each is bounded, not equal
    val h = SketchChecks.hllMerge(ev, "user_id", col("ts").cast("date"))
    val hll = f"global=${h.global} merged=${h.merged} exact=${h.exact} daily_buckets=${h.buckets}"
    check(Holds("hll-merged", h.relErr <= 0.05, f"$hll rel_err=${h.relErr}%.4f (bound 0.05)"))
    check(Holds("hll-global", h.globalRelErr <= 0.05,
      f"global_rel_err=${h.globalRelErr}%.4f (bound 0.05)"))
    check(Holds("hll-split", h.splitRel <= 0.05, f"split=${h.splitRel}%.4f (bound 0.05)"))
    val qs = SketchChecks.percentileRanks(
      ev, "event_type", "value", accuracy = 1000, ps = Seq(0.5, 0.9))
    check(Holds("approxq", qs.nonEmpty && qs.forall(_.ok(0.001)),
      qs.map(q => f"${q.group}@${q.p}=${q.value}%.4f[${q.lt},${q.le}]/${q.n}").mkString(" ")))
  }

  val all: Seq[Declared] = Seq(
    // as-of join: each purchase sees the user's most recent prior click.
    // Oracle = naive range-join + max; Spark = single-window union pass.
    Declared(
      "q_asof",
      Some(
        """SELECT p.event_id, max(c.event_id) AS last_click
          |FROM events p JOIN events c
          |  ON c.user_id = p.user_id AND c.ts <= p.ts AND c.event_type = 'click'
          |WHERE p.event_type = 'purchase'
          |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin
      )
    ) { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
      TemporalJoins
        .asofBackward(purchases, clicks, "user_id", "ts", "cts", "cid")
        .where(col("asof_cid").isNotNull)
        .select(col("event_id"), col("asof_cid").as("last_click"))
        .orderBy("event_id")
    },

    // bounded range join: purchases within 10 minutes AFTER an error by the
    // same user. Oracle = naive interval join; Spark = bucketed equi-join.
    Declared(
      "q_rangejoin",
      Some(
        """SELECT e.event_id AS error_id, p.event_id AS purchase_id
          |FROM events e JOIN events p
          |  ON p.user_id = e.user_id
          | AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 10 MINUTE
          |WHERE e.event_type = 'error' AND p.event_type = 'purchase'
          |ORDER BY error_id, purchase_id""".stripMargin
      )
    ) { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("eu"), col("ts").as("ets"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
      TemporalJoins
        .rangeJoinBucketed(errors, purchases, "ets", "pts", 600L, Seq("eu" -> "pu"))
        .select("error_id", "purchase_id")
        .orderBy("error_id", "purchase_id")
    },

    // sessionization (30-minute inactivity gap), lag + running-sum windows
    Declared(
      "q_session",
      Some(
        """WITH g AS (
          |  SELECT user_id, ts, event_id,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |               OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (
          |  SELECT user_id,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g)
          |SELECT user_id, count(DISTINCT sid) AS sessions, count(*) AS events
          |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin
      )
    ) { (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .withColumn("new_s",
          when(lag(col("ts"), 1).over(w).isNull ||
            col("ts") > lag(col("ts"), 1).over(w) + expr("INTERVAL 30 MINUTE"), 1)
            .otherwise(0))
        .withColumn("sid", sum("new_s").over(ws))
        .groupBy("user_id")
        .agg(countDistinct("sid").as("sessions"), count(lit(1)).as("events"))
        .orderBy("user_id")
    },

    // cube (all 4 grouping-set combinations)
    Declared(
      "q_cube",
      Some(
        """SELECT event_type, CAST(user_id % 4 AS INT) AS cohort, count(*) AS n
          |FROM events GROUP BY CUBE(event_type, CAST(user_id % 4 AS INT))
          |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST, n""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("cohort", (col("user_id") % 4).cast("int"))
        .cube("event_type", "cohort")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("cohort").asc_nulls_first, col("n"))
    },

    // explicit grouping sets (the general machinery behind rollup/cube)
    Declared(
      "q_groupsets",
      Some(
        """SELECT event_type, lang, count(*) AS n FROM (
          |  SELECT e.event_type, d.lang
          |  FROM events e JOIN documents d ON e.event_id % 500 = d.doc_id)
          |GROUP BY GROUPING SETS ((event_type), (lang))
          |ORDER BY event_type NULLS FIRST, lang NULLS FIRST, n""".stripMargin
      )
    ) { (spark, dir) =>
      val joined = Tables.events(spark, dir)
        .join(Tables.documents(spark, dir),
          col("event_id") % 500 === col("doc_id"))
        .select("event_type", "lang")
      joined
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("lang"))), col("event_type"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("lang").asc_nulls_first, col("n"))
    },

    // statistical aggregates: stddev, variance, correlation, exact median
    Declared(
      "q_stats",
      Some(
        """SELECT event_type,
          |       round(stddev_samp(value), 4) AS sd,
          |       round(var_samp(value), 4) AS var,
          |       round(corr(value, CAST(user_id AS DOUBLE)), 4) AS c,
          |       round(median(value), 4) AS med
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(
          round(stddev_samp(col("value")), 4).as("sd"),
          round(var_samp(col("value")), 4).as("var"),
          round(corr(col("value"), col("user_id").cast("double")), 4).as("c"),
          round(percentile(col("value"), lit(0.5)), 4).as("med"))
        .orderBy("event_type")
    },

    // pivot: event-type counts per cohort as columns
    Declared(
      "q_pivot",
      Some(
        """SELECT CAST(user_id % 4 AS INT) AS cohort,
          |       count(*) FILTER (WHERE event_type = 'click') AS click,
          |       count(*) FILTER (WHERE event_type = 'error') AS error,
          |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
          |       count(*) FILTER (WHERE event_type = 'view') AS "view"
          |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("cohort", (col("user_id") % 4).cast("int"))
        .groupBy("cohort")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .orderBy("cohort")
    },

    // explode / unnest: corpus-wide token frequencies
    Declared(
      "q_explode",
      Some(
        """SELECT tok, count(*) AS n
          |FROM (SELECT unnest(regexp_split_to_array(text, ' +')) AS tok FROM documents)
          |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " +")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },

    // array higher-order functions over embeddings
    Declared(
      "q_hof",
      Some(
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          |SELECT vec_id,
          |       round(sqrt(list_dot_product(v, v)), 4) AS norm,
          |       round(list_aggregate(v, 'max'), 4) AS mx,
          |       round(list_aggregate(list_transform(v, x -> abs(x)), 'sum'), 4) AS l1
          |FROM e ORDER BY vec_id""".stripMargin
      )
    ) { (spark, dir) =>
      val v = transform(col("embedding"), x => x.cast("double"))
      Tables.embeddings(spark, dir)
        .select(
          col("vec_id"),
          round(sqrt(aggregate(zip_with(v, v, (a, b) => a * b), lit(0.0), (s, x) => s + x)), 4).as("norm"),
          round(array_max(v), 4).as("mx"),
          round(aggregate(transform(v, abs(_)), lit(0.0), (s, x) => s + x), 4).as("l1"))
        .orderBy("vec_id")
    },

    // window frames + distribution functions: running sum, ntile,
    // percent_rank. Engine-independence at ANY partition size: the running
    // sum goes through exact integer cents (a double prefix sum's error
    // crosses the round-4 half boundary once partitions reach ~1e7 rows,
    // and the two engines associate window sums differently), and
    // percent_rank ships as the raw exact-ratio double (the q_ranks
    // catch: round-4 splits the engines on ratios like k/20000 once
    // partitions reach ~16k rows).
    Declared(
      "q_winframe",
      Some(
        """SELECT user_id, event_id,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY event_id
          |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
          |       ntile(4) OVER (PARTITION BY user_id ORDER BY event_id) AS quartile,
          |       percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id) AS pr
          |FROM events ORDER BY user_id, event_id""".stripMargin
      )
    ) { (spark, dir) =>
      val wo = Window.partitionBy("user_id").orderBy("event_id")
      val wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wv = Window.partitionBy("user_id").orderBy("value", "event_id")
      Tables.events(spark, dir)
        .select(
          col("user_id"), col("event_id"),
          (sum(Money.cents(col("value"))).over(wf) / 100.0).as("run_sum"),
          ntile(4).over(wo).cast("long").as("quartile"),
          percent_rank().over(wv).as("pr"))
        .orderBy("user_id", "event_id")
    },

    // approximate distinct (HLL++) — engine-specific sketch, rows-only check;
    // the exact counterpart q_distinct is oracle-checked
    Declared("q_approxd", None, Seq(sketchCert)) { (spark, dir) =>
      Tables.events(spark, dir)
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
    },

    // MERGEABLE distinct-count sketches (Apache DataSketches HLL): build
    // one sketch per day, then hll_union_agg merges them — the warehouse
    // re-aggregation pattern at 100 TB: daily sketches are tiny persisted
    // artifacts, and any date-range distinct count is a merge, not a
    // rescan. Engine-specific binary → rows-only; SketchSpec pins that
    // the merged estimate equals the global-sketch estimate exactly
    // (associativity) and tracks exact within the HLL error bound.
    Declared("q_hll", None) { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      ev.createOrReplaceTempView("graft_hll_events")
      spark.sql(
        """WITH daily AS (
          |  SELECT CAST(ts AS DATE) AS d, hll_sketch_agg(user_id) AS sk
          |  FROM graft_hll_events GROUP BY 1)
          |SELECT CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT) AS merged_distinct,
          |       CAST(count(*) AS BIGINT) AS n_daily_sketches
          |FROM daily""".stripMargin)
    },

    // approximate percentiles (mergeable t-digest-style sketch, single pass,
    // bounded memory — the 100 TB path where exact q_quantile's full sort
    // per group won't fly). Engine-specific sketch → rows-only; SketchSpec
    // pins the accuracy-vs-exact bound.
    Declared("q_approxq", None) { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(
          round(approx_percentile(col("value"), lit(0.5), lit(1000)), 4).as("p50"),
          round(approx_percentile(col("value"), lit(0.9), lit(1000)), 4).as("p90"))
        .orderBy("event_type")
    },

    // typed Dataset + custom Aggregator (UDAF): props-length-weighted mean
    // of value per event type, through groupByKey on the case-class façade
    Declared(
      "q_udaf",
      Some(
        """SELECT event_type,
          |       round(sum(value * length(props)) / sum(length(props)), 4) AS wavg
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
      )
    ) { (spark, dir) =>
      import spark.implicits._
      Tables.eventsDs(spark, dir)
        .map(e => (e.event_type, (e.value, e.props.length.toDouble)))
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.Aggregators.WeightedAvg.toColumn.name("wavg"))
        .toDF("event_type", "wavg")
        .select(col("event_type"), round(col("wavg"), 4).as("wavg"))
        .orderBy("event_type")
    }
  )
}
