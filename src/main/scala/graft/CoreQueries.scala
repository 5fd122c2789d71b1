package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Cleaning, Pii, Recode, Windows}
import graft.lake.Merge

/** Core relational query registry: every SURVEY.md §2 operator exposed as
  * a named query over the driver fixtures, plus the harness-breadth suite
  * (joins, agg variants, set ops, windows, streaming-shaped batch
  * queries). Scale rationale lives on each query; plans audited via
  * `ProfileQuery`.
  */
object CoreQueries {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  private val disc = lit(1) - col("l_discount")
  private val charge = col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))

  val all: Seq[QueryDef] = Seq(

    // ---- aggregations --------------------------------------------------
    // TPC-H Q1 shape: single shuffle on 2 low-cardinality keys, partial
    // aggregation map-side; scan reads only the 7 needed columns.
    q("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_extendedprice),6) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-12-01 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * disc), 2).as("sum_disc_price"),
          round(sum(charge), 2).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Distinct aggregates: Spark expands to two-phase distinct agg; one
    // extra shuffle, no driver materialization.
    q("q_distinct_agg",
      """SELECT l_returnflag,
        | count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct("l_partkey").as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // Exact interpolated percentiles (sort-based agg per group).
    q("q_percentiles",
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5),6) AS median_qty,
        | round(quantile_cont(l_extendedprice, 0.9),6) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5D)"), 6).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9D)"), 6).as("p90_price"))
        .orderBy("l_returnflag")
    },

    // ROLLUP over the dim hierarchy; broadcast joins feed one shuffle.
    q("q_rollup",
      """SELECT r_name, n_name, count(*) AS n_customers,
        | round(sum(c_acctbal),2) AS total_bal
        |FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
      // DataFrame-API rollup over a join trips Spark 4.1's ambiguous-
      // self-join check (plan-id tagging under Expand); the SQL planner
      // produces the identical Expand+Aggregate plan without the false
      // positive, so this query goes through spark.sql.
      customer(s, d).createOrReplaceTempView("customer")
      nation(s, d).createOrReplaceTempView("nation")
      region(s, d).createOrReplaceTempView("region")
      s.sql(
        """SELECT r_name, n_name, count(*) AS n_customers,
          | round(sum(c_acctbal),2) AS total_bal
          |FROM customer
          | JOIN nation ON c_nationkey = n_nationkey
          | JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)
          |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
    },

    q("q_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS total_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      orders(s, d).cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    // ---- joins ---------------------------------------------------------
    // Star-dim chain: both dims explicitly broadcast — zero shuffles for
    // the join itself at any fact scale.
    q("q_join_dims",
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey")
    },

    // TPC-H Q3 shape: selective dim filter broadcast into the fact-fact
    // join; top-k ordered by the rounded measure for cross-engine
    // determinism.
    q("q3_top_revenue",
      """SELECT o_orderkey, o_orderdate,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(orders(s, d).filter(col("o_orderdate") < lit("1998-01-01 00:00:00")),
          col("o_custkey") === col("c_custkey"))
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * disc), 2).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    },

    // TPC-H Q5 shape: full star join, dims broadcast, facts shuffle once.
    q("q5_region_revenue",
      """SELECT r_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(*) AS n_lineitems
        |FROM region
        | JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      broadcast(region(s, d))
        .join(broadcast(nation(s, d)), col("n_regionkey") === col("r_regionkey"))
        .join(customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(orders(s, d), col("o_custkey") === col("c_custkey"))
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier(s, d)),
          col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("r_name")
        .agg(round(sum(col("l_extendedprice") * disc), 2).as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("r_name")
    },

    // Semi/anti joins: existence tests never widen rows, never duplicate.
    q("q_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    q("q_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // S10 semantics as a query: the rows an insert-only merge would add
    // (delta-rs when_not_matched_insert_all, /root/reference/main.py:465-470).
    q("q_merge_insert_only",
      """SELECT s.o_orderkey, s.o_totalprice FROM orders s
        |WHERE s.o_orderkey % 2 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM orders t WHERE t.o_orderkey % 3 = 0
        |    AND t.o_orderkey = s.o_orderkey)
        |ORDER BY s.o_orderkey""".stripMargin) { (s, d) =>
      val source = orders(s, d).filter(col("o_orderkey") % 2 === 0)
      val target = orders(s, d).filter(col("o_orderkey") % 3 === 0)
      Merge.insertCandidates(source, target, Seq("o_orderkey"))
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },

    // Full MERGE semantics (Delta when_matched_update_all +
    // when_not_matched_insert_all) as a pure query: matched target rows
    // replaced by their source version, unmatched targets survive,
    // unmatched sources insert. [[lake.VersionedTable.merge]] gives the
    // same result through the lake's one merge, `mergeConditional`
    // (one join of the affected-file slice with the source).
    q("q_merge_upsert",
      """WITH target AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |source AS (SELECT o_orderkey, round(o_totalprice + 1000, 2) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT t.o_orderkey, t.o_totalprice FROM target t
        |WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
        |UNION ALL SELECT o_orderkey, o_totalprice FROM source
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val target = orders(s, d).filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
      val source = orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          round(col("o_totalprice") + 1000, 2).as("o_totalprice"))
      Merge.upsert(target, source, Seq("o_orderkey")).orderBy("o_orderkey")
    },

    // ---- set ops / sort / top-k ---------------------------------------
    q("q_except",
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select("c_custkey")
        .except(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    },

    q("q_intersect",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .intersect(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    },

    q("q_union",
      """SELECT n_nationkey AS k FROM nation
        |UNION SELECT r_regionkey AS k FROM region
        |ORDER BY k""".stripMargin) { (s, d) =>
      nation(s, d).select(col("n_nationkey").as("k"))
        .union(region(s, d).select(col("r_regionkey").as("k")))
        .distinct().orderBy("k")
    },

    // Global top-k: TakeOrderedAndProject — no full sort materialization.
    q("q_topk_global",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin) { (s, d) =>
      lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },

    // ---- windows -------------------------------------------------------
    // Per-group top-n: single shuffle on the partition key; Spark pushes a
    // per-partition limit before the filter via the rank predicate.
    q("q_rank_topn",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // A5+A6+A7: the reference's Gold aggregation (grouped lag-diff +
    // running sum). One shuffle on the group key; ordering includes a
    // unique tiebreaker because pandas' stable sort doesn't distribute.
    q("q_gold_window",
      """SELECT user_id, event_id, value,
        | round(coalesce(value - lag(value) OVER w, value),2) AS diff_value,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY value, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS cumsum_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
        |ORDER BY user_id, value, event_id""".stripMargin) { (s, d) =>
      val base = events(s, d)
      Windows.goldAggregate(base, "user_id", Seq("value"), Seq("value"), Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("value"),
          round(col("diff_value"), 2).as("diff_value"),
          round(col("cumsum_value"), 2).as("cumsum_value"))
        .orderBy("user_id", "value", "event_id")
    },

    // ---- reference Silver/clean semantics ------------------------------
    // F4/F6/F7/F8/F9/F11/P4 in one projection (ANSI-safe via try_cast).
    q("q_silver_clean",
      """SELECT event_id,
        | strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS ts_str,
        | user_id,
        | CASE WHEN event_type IS NULL OR event_type = '' THEN 'Sin Dato'
        |      ELSE event_type END AS event_type,
        | round(coalesce(TRY_CAST(value AS DOUBLE), 0), 3) AS value,
        | coalesce(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS DOUBLE), 0) AS props_k,
        | printf('%.3f', coalesce(TRY_CAST(value AS DOUBLE), 0)) AS value_str
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("user_id"),
        Cleaning.fillString(col("event_type")).as("event_type"),
        Cleaning.coerceNumeric(col("value")).as("value"),
        coalesce(regexp_extract(col("props"), "([0-9]+)", 1).try_cast("double"), lit(0.0))
          .as("props_k"),
        Cleaning.formatFixed(Cleaning.coerceNumeric(col("value"), 3)).as("value_str"))
        .orderBy("event_id")
    },

    // P2: pandas `~isin` keeps nulls; SQL NOT IN would drop them.
    q("q_filter_notin_null",
      """SELECT event_id, event_type FROM events
        |WHERE event_type NOT IN ('click','view') OR event_type IS NULL
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .filter(!col("event_type").isin("click", "view") || col("event_type").isNull)
        .select("event_id", "event_type").orderBy("event_id")
    },

    // F5: dictionary recode with pass-through (map-literal variant).
    q("q_recode_map",
      """SELECT c_custkey,
        | CASE c_mktsegment WHEN 'BUILDING' THEN 'CONSTRUCTION'
        |                   WHEN 'AUTOMOBILE' THEN 'AUTO'
        |                   ELSE c_mktsegment END AS segment
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_custkey"),
        Recode.viaMapLiteral(col("c_mktsegment"),
          Map("BUILDING" -> "CONSTRUCTION", "AUTOMOBILE" -> "AUTO")).as("segment"))
        .orderBy("c_custkey")
    },

    // F2/F3: split + explode (generator stays inside codegen).
    q("q_explode_split",
      """SELECT c_custkey, unnest(string_split(c_name, '#')) AS token
        |FROM customer ORDER BY c_custkey, token""".stripMargin) { (s, d) =>
      customer(s, d)
        .select(col("c_custkey"), explode(split(col("c_name"), "#")).as("token"))
        .orderBy("c_custkey", "token")
    },

    // A1: melt/unpivot (wide→long).
    q("q_unpivot",
      """SELECT p_partkey, 'p_brand' AS attr, p_brand AS val FROM part
        |UNION ALL SELECT p_partkey, 'p_type' AS attr, p_type AS val FROM part
        |ORDER BY p_partkey, attr""".stripMargin) { (s, d) =>
      part(s, d).unpivot(Array(col("p_partkey")),
          Array(col("p_brand"), col("p_type")), "attr", "val")
        .orderBy("p_partkey", "attr")
    },

    // A3: pivot long→wide (explicit value list: no discovery job).
    q("q_pivot_sum",
      """SELECT user_id,
        | round(sum(CASE WHEN event_type='click' THEN value END),2) AS click,
        | round(sum(CASE WHEN event_type='error' THEN value END),2) AS error,
        | round(sum(CASE WHEN event_type='purchase' THEN value END),2) AS purchase,
        | round(sum(CASE WHEN event_type='signup' THEN value END),2) AS signup,
        | round(sum(CASE WHEN event_type='view' THEN value END),2) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      events(s, d).groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum("value"), 2))
        .orderBy("user_id")
    },

    // F13–F17 + P5: deterministic PII surrogate, domain, mask.
    q("q_pii_emails",
      """SELECT c_custkey,
        | concat(substr(sha256(concat(c_name,'graft')),1,12), '@example.com') AS email,
        | split_part(concat(substr(sha256(concat(c_name,'graft')),1,12), '@example.com'),'@',2) AS domain,
        | regexp_replace(concat(substr(sha256(concat(c_name,'graft')),1,12), '@example.com'),'^[^@]+','*****') AS masked
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .select(col("c_custkey"), Pii.surrogateEmail(col("c_name")).as("email"))
        .withColumn("domain", Pii.emailDomain(col("email")))
        .withColumn("masked", Pii.maskEmail(col("email")))
        .orderBy("c_custkey")
    },

    // F12/S2: timestamp parse/format (the HTTP-date watermark shape).
    q("q_date_ops",
      """SELECT event_id,
        | strftime(ts::TIMESTAMP, '%a, %d %b %Y %H:%M:%S') AS http_date,
        | strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).select(col("event_id"),
        date_format(col("ts"), "EEE, dd MMM yyyy HH:mm:ss").as("http_date"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .orderBy("event_id")
    },

    // ---- streaming-shaped batch queries over `events` ------------------
    // S6 with the watermark actually consumed: high-water-mark filter
    // reaches the parquet scan (PushedFilters), then daily tumbling agg.
    q("q_watermark_daily",
      """SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
        | count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events WHERE ts::TIMESTAMP > TIMESTAMP '2024-01-10 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      events(s, d)
        .filter(col("ts") > lit("2024-01-10 00:00:00"))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .orderBy("day")
    },

    // Tumbling window via window(): epoch-aligned 6h buckets.
    q("q_window_6h",
      """SELECT strftime(time_bucket(INTERVAL '6 hours', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS bucket,
        | count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), col("total_value"))
        .orderBy("bucket")
    },

    // Sliding window (12h length, 6h slide): every event lands in two
    // overlapping buckets — Spark's window() generator vs an explicit
    // two-bucket unnest in the oracle.
    q("q_window_sliding",
      """WITH exploded AS (
        |  SELECT unnest([time_bucket(INTERVAL '6 hours', ts::TIMESTAMP),
        |                 time_bucket(INTERVAL '6 hours', ts::TIMESTAMP) - INTERVAL '6 hours'
        |                ]) AS ws, value
        |  FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM exploded GROUP BY ws ORDER BY window_start""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "12 hours", "6 hours"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n_events"), col("total_value"))
        .orderBy("window_start")
    },

    // Sessionization (30-min gap) via lag/cumsum islands — the portable
    // equivalent of session_window; equivalence proven in StreamingSpec.
    q("q_session_islands",
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, ts::TIMESTAMP AS tsv,
        |    CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
        |         OR epoch_us(ts::TIMESTAMP) - epoch_us(lag(ts::TIMESTAMP) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
        |), sessions AS (
        |  SELECT *, (sum(new_session) OVER (PARTITION BY user_id ORDER BY tsv, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id,
        |  strftime(min(tsv), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("new_session",
          when(lag(col("ts"), 1).over(w).isNull ||
            (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) > 1800000000L,
            lit(1)).otherwise(lit(0)))
        .withColumn("session_id", sum("new_session").over(wRun).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .orderBy("user_id", "session_id")
    },

    // Streaming dropDuplicates semantics in batch: keep the earliest row
    // per (user_id, event_type) — deterministic via event_id order.
    q("q_dedup_keep_first",
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
      events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("event_id")
    },

    // Native session_window variant. The oracle replays it via the
    // lag/cumsum islands formulation projected to session_window's
    // output shape (equivalence also asserted in StreamingSpec). Gap
    // boundary: session_window treats an event at exactly prev+gap as a
    // NEW session (windows are [start, start+gap)), hence `>=` here
    // where q_session_islands uses `>`.
    q("q_session_native",
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, ts::TIMESTAMP AS tsv,
        |    CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
        |         OR epoch_us(ts::TIMESTAMP) - epoch_us(lag(ts::TIMESTAMP) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
        |), sessions AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY tsv, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id,
        |  strftime(min(tsv), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    },

    // HLL approximate distinct. HLL internals can never hash-match another
    // engine, so the contract made checkable instead: Spark emits the
    // EXACT distinct plus a boolean `within_tol` asserting the HLL
    // estimate is within 5% of it; the oracle emits the same exact count
    // and literal TRUE. The row hash-matches iff HLL held its tolerance.
    q("q_approx_distinct",
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey)::BIGINT AS exact_parts,
        | TRUE AS within_tol
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("exact_parts"),
          approx_count_distinct("l_partkey").as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(0.05)).as("within_tol"))
        .orderBy("l_returnflag")
    }
  )
}
