package graft.queries

import graft.Tables
import graft.functions.Money
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The relational surface (SURVEY.md §2.2/§2.3): categories the reference
 * has no implementation for, standardized on Catalyst built-ins and proven
 * against the DuckDB oracle. Zero custom planner work — the scale story is
 * Catalyst's (pushdown, partial aggregation, AQE join planning).
 *
 * Scale notes (100 TB):
 *  - dimension joins broadcast explicitly (`region`/`nation`/`supplier`);
 *    fact-fact joins go through AQE which converts to broadcast/skew-split
 *    from runtime stats,
 *  - every groupBy is partial-aggregated map-side by Catalyst before the
 *    shuffle,
 *  - window queries shuffle once on the partition key; ORDER BY of the
 *    final result is a range-partitioned sort (no single-node gather until
 *    the driver collects the final, already-reduced result).
 */
object RelationalQueries {

  val all: Seq[Declared] = Seq(
    // bucketed co-located join: both sides written bucketBy(8, custkey) so
    // the sort-merge join needs NO exchange on either side — the layout
    // that turns the 100 TB fact-fact join from a full shuffle into a
    // local merge. The merge hint pins SMJ (else AQE broadcasts the small
    // side at this SF and the bucketing never engages); LayoutSpec covers
    // the plan-level no-Exchange assertion.
    // Money sums go through exact integer cents (Money.sumMoney), not
    // double: five c_mktsegment groups concentrate ~n/5 prices per sum,
    // and a double sum's partition-order error grows past the 1e-4 oracle
    // rounding grid right around sf1 (~300k rows/group summing to ~3e10 —
    // caught by the sf1 sweep; the sf0.01/0.1 match was magnitude luck,
    // not determinism). Long-cents partial aggregation is exact integer
    // arithmetic, so the sum is order-independent at any realistic scale
    // (envelope documented in graft.functions.Money) and ~30%-2.4×
    // cheaper than the DECIMAL(18,2) formulation it replaced (VERDICT r09
    // item 4; MoneySpec pins the equality). The DuckDB oracles keep the
    // DECIMAL formulation — both convert the same exact rational to its
    // nearest double, so hashes are unchanged. Same treatment in
    // q_joinfact/q_skewjoin (shared logical query) and the wide-sum q1
    // family; q_sql deliberately KEEPS DECIMAL aggregation so the SQL-text
    // surface still exercises Spark's decimal partial aggregates.
    Declared(
      "q_bucket",
      Some(
        """SELECT c_mktsegment, count(*) AS n_orders,
          |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
      )
    ) { (spark, dir) =>
      // fresh external location each run: a stale managed-table directory
      // from an earlier session (metastore is per-session, warehouse dir is
      // not) makes saveAsTable throw LOCATION_ALREADY_EXISTS
      val loc = graft.ScratchDirs.dir("graft-bkt")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_customer")
      Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$loc/orders").saveAsTable("graft_bkt_orders")
      Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$loc/customer").saveAsTable("graft_bkt_customer")
      spark.table("graft_bkt_orders")
        .hint("merge")
        .join(spark.table("graft_bkt_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(Money.sumMoney(col("o_totalprice")), 4).as("revenue"))
        .orderBy("c_mktsegment")
    },
    // filter with compound predicate → pushed to parquet scan
    Declared(
      "q_filter",
      Some(
        """SELECT event_id, user_id, value FROM events
          |WHERE event_type = 'error' AND value > 100 ORDER BY event_id""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .filter(col("event_type") === "error" && col("value") > 100)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    },

    // hash aggregation, partial+final. events.value is 2-decimal by corpus
    // contract, so the sums ride the exact-cents Money convention: the
    // per-type groups GROW with the table, and the factor-1000 sweep
    // showed ~1e9-magnitude double accumulations drifting past the 1e-4
    // grid in this exact shape (caught on q_salted; q_agg only passed by
    // accumulation-order luck). avg_value is a DIVISION result — off the
    // 0.01 grid — so it ships as the bit-identical unrounded double on
    // both sides per the Declared contract (an engine-side round(,4) at a
    // shortest-repr half boundary is where Spark HALF_UP and DuckDB
    // split; the compare layer rounds identical doubles identically).
    Declared(
      "q_agg",
      Some(
        """SELECT event_type, count(*) AS n,
          |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(Money.sumMoney(col("value")), 4).as("sum_value"),
          (Money.sumMoney(col("value")) / count(lit(1))).as("avg_value"))
        .orderBy("event_type")
    },

    // tumbling window, batch form (streaming form in graft.streaming)
    Declared(
      "q_tumble",
      Some(
        """SELECT date_trunc('hour', ts) AS w, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(date_trunc("hour", col("ts")).as("w"))
        .agg(count(lit(1)).as("n"))
        .orderBy("w")
    },

    // exact distinct
    Declared(
      "q_distinct",
      Some("SELECT count(DISTINCT user_id) AS n_users FROM events")
    ) { (spark, dir) =>
      Tables.events(spark, dir).agg(countDistinct(col("user_id")).as("n_users"))
    },

    // TPC-H Q1 shape: wide aggregate over the fact table
    Declared(
      "q_tpch1",
      Some(
        """SELECT l_returnflag, l_linestatus,
          |       round(sum(l_quantity), 4) AS sum_qty,
          |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_base_price,
          |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
          |       round(avg(l_quantity), 4) AS avg_qty,
          |       count(*) AS n
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin
      )
    ) { (spark, dir) =>
      // money sums as exact integer cents (order-independent — rationale
      // at q_bucket; envelope in graft.functions.Money); the disc-price
      // product is cents×hundredths so it is EXACT per row, not a double
      // multiply rounded after the fact. quantity sums stay double:
      // integer-valued doubles sum exactly below 2^53 in any order.
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(Money.sumMoney(col("l_extendedprice")), 4).as("sum_base_price"),
          round(Money.sumDiscounted(col("l_extendedprice"), col("l_discount")), 4)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // 3-way dimension join; dims broadcast (≤ a few MB even at 100 TB fact
    // scale). Per-nation acctbal goes through the Money cents convention:
    // group sums GROW with the customer table (unlike per-key sums), and
    // at the factor-1000 slice a double accumulation drifted 1e-4 at
    // magnitude 2.5e9 — the q_recursive failure class, caught by the
    // sf100 sweep.
    Declared(
      "q_join3",
      Some(
        """SELECT r_name, n_name, count(*) AS customers,
          |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS acctbal
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("customers"),
          round(Money.sumMoney(col("c_acctbal")), 4).as("acctbal"))
        .orderBy("r_name", "n_name")
    },

    // fact-dimension equi join (AQE decides broadcast vs shuffled hash)
    Declared(
      "q_joinfact",
      Some(
        """SELECT c_mktsegment, count(*) AS n_orders,
          |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(Money.sumMoney(col("o_totalprice")), 4).as("total"))
        .orderBy("c_mktsegment")
    },

    // semi join (IN-subquery)
    Declared(
      "q_semi",
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin
      )
    ) { (spark, dir) =>
      val bigOrders = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000)
      Tables.customer(spark, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // anti join (NOT IN; o_custkey is non-null so anti ≡ NOT IN).
    // Filtered to "no large order" so the result is non-trivially non-empty.
    Declared(
      "q_anti",
      Some(
        """SELECT c_custkey FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.customer(spark, dir)
        .join(
          Tables.orders(spark, dir).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // ranking window: top-3 per group
    Declared(
      "q_window",
      Some(
        """SELECT * FROM (
          |  SELECT event_type, event_id, value,
          |         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
          |  FROM events) t
          |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin
      )
    ) { (spark, dir) =>
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      Tables.events(spark, dir)
        .select(col("event_type"), col("event_id"), col("value"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("event_type", "rn")
    },

    // analytic window: lag with per-user frame
    Declared(
      "q_lag",
      Some(
        """SELECT user_id, event_id,
          |       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id), 4) AS dv
          |FROM events ORDER BY user_id, event_id""".stripMargin
      )
    ) { (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"),
          round(col("value") - lag(col("value"), 1).over(w), 4).as("dv"))
        .orderBy("user_id", "event_id")
    },

    // rollup (grouping sets / cube use the same Expand machinery)
    Declared(
      "q_rollup",
      Some(
        """SELECT event_type, CAST(user_id % 4 AS INT) AS cohort, count(*) AS n
          |FROM events GROUP BY ROLLUP(event_type, CAST(user_id % 4 AS INT))
          |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST, n""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("cohort", (col("user_id") % 4).cast("int"))
        .rollup("event_type", "cohort")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("cohort").asc_nulls_first, col("n"))
    },

    // set ops: INTERSECT / UNION / EXCEPT (distinct semantics in both engines)
    Declared(
      "q_intersect",
      Some(
        """SELECT user_id FROM events WHERE event_type = 'purchase'
          |INTERSECT
          |SELECT user_id FROM events WHERE event_type = 'error'
          |ORDER BY user_id""".stripMargin
      )
    ) { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .intersect(ev.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },
    Declared(
      "q_union",
      Some(
        """SELECT user_id FROM events WHERE event_type = 'signup'
          |UNION
          |SELECT user_id FROM events WHERE event_type = 'click'
          |ORDER BY user_id""".stripMargin
      )
    ) { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      ev.filter(col("event_type") === "signup").select("user_id")
        .union(ev.filter(col("event_type") === "click").select("user_id"))
        .distinct()
        .orderBy("user_id")
    },
    Declared(
      "q_except",
      Some(
        """SELECT user_id FROM events WHERE event_type = 'signup' AND value > 180
          |EXCEPT
          |SELECT user_id FROM events WHERE event_type = 'click' AND value > 180
          |ORDER BY user_id""".stripMargin
      )
    ) { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      ev.filter(col("event_type") === "signup" && col("value") > 180).select("user_id")
        .except(ev.filter(col("event_type") === "click" && col("value") > 180).select("user_id"))
        .orderBy("user_id")
    },

    // global top-K (Catalyst plans TakeOrderedAndProject: per-partition
    // top-K then a K-row merge on the driver — no global sort)
    Declared(
      "q_topk",
      Some(
        """SELECT o_orderkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // scalar function surface (string/date/math); length cast to BIGINT to
    // match DuckDB's type
    Declared(
      "q_scalar",
      Some(
        """SELECT event_id, upper(event_type) AS et_upper, substring(event_type, 1, 2) AS et2,
          |       length(props) AS props_len, round(sqrt(abs(value)), 4) AS sq,
          |       date_trunc('day', ts) AS d
          |FROM events ORDER BY event_id""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.events(spark, dir)
        .select(
          col("event_id"),
          upper(col("event_type")).as("et_upper"),
          substring(col("event_type"), 1, 2).as("et2"),
          length(col("props")).cast("long").as("props_len"),
          round(sqrt(abs(col("value"))), 4).as("sq"),
          date_trunc("day", col("ts")).as("d"))
        .orderBy("event_id")
    }
  )
}
