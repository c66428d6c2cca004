package graft

import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Relational analytics over the star schema (SURVEY.md §2.3 audit: the
  * reference has no joins/aggs/windows — these are the engine-native
  * operators every real analytics workload over the ingested collections
  * needs, exercised on the TESTDATA.md fixture tables).
  *
  * Oracle-parity rules (SURVEY.md §7 risks):
  *  - money/qty sums go through DECIMAL so the result is order-independent
  *    and hash-comparable with DuckDB; final output cast to DOUBLE (the
  *    decimal→double conversion is correctly rounded in both engines).
  *  - averages are derived as decimal-sum / count in DOUBLE, never engine
  *    `avg` (engines disagree on decimal avg typing).
  *  - every computed column is aliased identically here and in the SQL.
  */
object Relational {

  /** Q1-style pricing summary: full-scan aggregation with map-side partial
    * aggregation; at 100 TB this is a scan + one small shuffle of
    * (flag,status) partials — optimal. Filter + 7-column projection are
    * pushed to the parquet scan. */
  val q1Pricing = Q("q1_pricing",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // spreadBy (r17): the fixture fact table is one file with ONE row
      // group ≈ one effective split, so the decimal partial aggregation
      // ran serially (Dev prof: one 0.92 s job = the whole query).
      // Deterministic hash spread on the high-cardinality order key (no
      // round-robin local sort); cluster no-op by Par's gate; decimal
      // sums are order-insensitive. Project to the 5 needed columns
      // first so the exchange carries no dead bytes (guide §2.3).
      graft.operators.Par.spreadBy(
          li.filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
            .select("l_orderkey", "l_returnflag", "l_linestatus",
              "l_quantity", "l_extendedprice", "l_discount"),
          col("l_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(20,4)")).cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast("decimal(20,2)")).cast("double") /
            count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """))

  /** Q3-style shipping priority: 3-way join with the big fact table last,
    * dimension filters pushed below the joins. customer scales linearly
    * with the corpus (≈10^10 rows at the 100 TB design point), so it gets
    * NO broadcast hint — AQE runtime-broadcasts it while it fits and
    * falls back to a shuffled join past the threshold; orders⨝lineitem
    * co-partitions on orderkey. Top-10 → TakeOrderedAndProject. */
  val q3TopOrders = Q("q3_top_orders",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(20,4)")).cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"), col("revenue"))
    },
    Some("""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             o_orderpriority,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10
    """))

  /** Q5-style region revenue: 5-way snowflake join. nation (25 rows) and
    * region (5 rows) are FIXED-size dimension tables — those broadcast
    * hints are safe at any scale. customer and supplier scale with the
    * corpus, so they carry no hint: AQE broadcasts them while small and
    * shuffles past the threshold; orders⨝lineitem is the one inherent
    * shuffle. */
  val q5RegionRevenue = Q("q5_region_revenue",
    (s, dir) => {
      val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables.load(s, dir, "nation")
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(20,4)")).cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    },
    Some("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name
    """))

  /** Dim join + agg by brand. part is small RELATIVE to lineitem but
    * scales linearly with the corpus (SF·200k rows — billions at the
    * 100 TB design point), so like customer/supplier it carries NO
    * broadcast hint: AQE runtime-broadcasts while it fits and shuffles
    * past the threshold (the r7 sweep — forced hints survive only on
    * data-independent bounds: nation/region, query batches, pinned
    * samples, 1-row stats, sketch cells). */
  val qBrandAgg = Q("q_brand_agg",
    (s, dir) => {
      val part = Tables.load(s, dir, "part")
      val li = Tables.load(s, dir, "lineitem")
      li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sum_qty"))
        .orderBy("p_brand", "p_type")
    },
    Some("""
      SELECT p_brand, p_type, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, p_type
      ORDER BY p_brand, p_type
    """))

  /** Window top-N: top-3 orders per customer. Spark plans a single shuffle
    * on o_custkey; WindowGroupLimit prunes each partition to 3 rows before
    * the exchange. */
  val qWindowTopn = Q("q_window_topn",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn
    """))

  /** ROLLUP grouping sets over order status/priority. */
  val qRollup = Q("q_rollup",
    (s, dir) => {
      Tables.load(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(20,2)")).cast("double").as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """))

  /** Anti join (set-difference): customers with no orders. At scale this is
    * a broadcast/shuffled LeftAnti — no full materialization of the
    * difference. */
  val qCustNoOrders = Q("q_cust_no_orders",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey
    """))

  /** Tumbling-hour event rollup over the ns-timestamp stream table (batch
    * form of the streaming windowed agg; ns kept exact as epoch-ns BIGINT,
    * SURVEY.md §7 nanosecond risk). */
  val qEventsHourly = Q("q_events_hourly",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      // integer DIV, not floor(/): Long / Long promotes to DOUBLE, whose
      // 256 ns ulp at epoch-ns magnitude can round a just-before-boundary
      // timestamp into the next hour while the oracle's exact `//` doesn't
      ev.withColumn("hour_bucket", expr("ts DIV 3600000000000"))
        .groupBy("event_type", "hour_bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)")).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type", "hour_bucket")
    },
    Some("""
      SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value,
             COUNT(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY 1, 2
      ORDER BY event_type, hour_bucket
    """))

  /** SLIDING event-time windows (2h windows every 1h): the overlapping
    * variant of q_events_hourly, written as the explicit windows-per-event
    * expansion (explode of ceil(duration/slide)=2 window starts) — the
    * same form Spark's built-in window() lowers to (OperatorSpec asserts
    * the twin), but in exact epoch-ns integers immune to µs truncation. */
  val qEventsSliding = Q("q_events_sliding",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("hb", expr("ts DIV 3600000000000")) // exact (see above)
        .withColumn("win_start_hour",
          explode(array(col("hb") - 1, col("hb"))))
      ev.groupBy("event_type", "win_start_hour")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type", "win_start_hour")
    },
    Some("""
      SELECT event_type, win_start_hour, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
      FROM (
        SELECT event_type, value,
               unnest([epoch_ns(ts) // 3600000000000 - 1,
                       epoch_ns(ts) // 3600000000000]) AS win_start_hour
        FROM events)
      GROUP BY 1, 2 ORDER BY event_type, win_start_hour"""))

  /** JSON payload predicate + agg — the Qdrant payload-filter surface
    * (SURVEY.md §2.2 V3) over the `props` JSON column. */
  val qEventsJson = Q("q_events_json",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k") > 50)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
      FROM events
      WHERE CAST(props->>'$.k' AS BIGINT) > 50
      GROUP BY event_type
      ORDER BY event_type
    """))

  /** Qdrant DATETIME range condition (the public DSL's `range` with
    * RFC 3339 bounds) composed with `match.any`, translated by
    * `PayloadFilter` into plain Catalyst comparisons. On a TimestampType
    * payload column the range is a pushable comparison — parquet prunes
    * row groups by ts min/max stats, the engine-native analog of
    * Qdrant's datetime payload index (PayloadFilterSpec asserts
    * PushedFilters). THIS fixture's ts is epoch-nanos-as-LONG (no ns
    * timestamp type in Spark), so the query derives a µs column first
    * and only the IN-list reaches PushedFilters here; the range then
    * evaluates in the same codegen stage as the scan. */
  val qEventsDslTime = Q("q_events_dsl_time",
    (s, dir) => {
      val dsl = """{"must": [
        {"key": "ts_utc", "range": {"gte": "2024-01-03T00:00:00Z",
                                    "lt":  "2024-01-10T00:00:00Z"}},
        {"key": "event_type", "match": {"any": ["click", "purchase"]}}]}"""
      Tables.load(s, dir, "events")
        // the fixture's ts is epoch NANOS as LONG (TESTDATA quirk — Spark
        // has no ns timestamp type); the µs truncation cannot flip a
        // whole-second bound (floor-verified, see verify skill notes)
        .withColumn("ts_utc",
          timestamp_micros(call_function("div", col("ts"), lit(1000L))))
        .filter(graft.operators.PayloadFilter.fromJson(dsl,
          idCol = "event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
        AND ts <  TIMESTAMP '2024-01-10 00:00:00'
        AND event_type IN ('click', 'purchase')
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Session-lifetime memo of the RANGE payload index over the events
    * table (key = the epoch-nanos `ts`, grain = one day of nanos — the
    * date-partition width a production lake would pick). */
  private def eventsRangeIdxDir(s: org.apache.spark.sql.SparkSession,
                                dir: String): String =
    Tables.memoTempDir("pridx", dir) { target =>
      graft.sources.PayloadIndex.buildRange(Tables.load(s, dir, "events"),
        "ts", "event_id", target, origin = 0L,
        width = 86400L * 1000000000L)
    }

  /** [[qEventsDslTime]] served through the RANGE payload index (Qdrant's
    * integer/datetime `create_payload_index` types): the DSL's datetime
    * bounds become literal `pbucket` comparisons that prune at FILE
    * LISTING — only the 7 day-directories inside the range are ever
    * listed, where the hash index scans every value bucket (hashing
    * cannot prune ranges — the r10 verdict's gap) — with the exact ns
    * bounds as the pushed residual. Whole-second RFC 3339 bounds on the
    * µs-truncated column are equivalent to raw-nanos bounds ×10⁹ (floor
    * property), so rows match the unindexed filter exactly. Same oracle:
    * materialization must not change a row. */
  val qEventsDslTimeIndexed = Q("q_events_dsl_time_indexed",
    (s, dir) => {
      def ns(iso: String): Long =
        java.time.Instant.parse(iso).getEpochSecond * 1000000000L
      graft.sources.PayloadIndex.forRange(s, eventsRangeIdxDir(s, dir),
          gte = Some(ns("2024-01-03T00:00:00Z")),
          lt = Some(ns("2024-01-10T00:00:00Z")))
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    },
    qEventsDslTime.oracle)

  /** Day-grain TIMESTAMP range index over the derived `ts_utc` column —
    * the declaration [[qEventsDslTimeRouted]] routes through. */
  private def eventsTsUtcIdxDir(s: org.apache.spark.sql.SparkSession,
                                dir: String): String =
    Tables.memoTempDir("pridxts", dir) { target =>
      graft.sources.PayloadIndex.buildRange(
        Tables.load(s, dir, "events").withColumn("ts_utc",
          timestamp_micros(call_function("div", col("ts"), lit(1000L)))),
        "ts_utc", "event_id", target, origin = 0L, width = 86400L)
    }

  /** [[qEventsDslTime]] with the ORIGINAL DSL — RFC 3339 string bounds
    * and all — served through the router: the declared TIMESTAMP range
    * index buckets on epoch seconds, the router parses the datetime
    * bounds (floored/ceiled to a superset window), prunes day
    * directories at file listing, and the untouched DSL predicate is
    * the residual. The caller changed NOTHING about the query except
    * declaring the index — the `create_payload_index` promise
    * end-to-end. Same oracle as `q_events_dsl_time`. */
  val qEventsDslTimeRouted = Q("q_events_dsl_time_routed",
    (s, dir) => {
      val dsl = """{"must": [
        {"key": "ts_utc", "range": {"gte": "2024-01-03T00:00:00Z",
                                    "lt":  "2024-01-10T00:00:00Z"}},
        {"key": "event_type", "match": {"any": ["click", "purchase"]}}]}"""
      val pts = Tables.load(s, dir, "events").withColumn("ts_utc",
        timestamp_micros(call_function("div", col("ts"), lit(1000L))))
      graft.sources.IndexRouter.filtered(s, pts,
          Seq("ts_utc" -> eventsTsUtcIdxDir(s, dir)), dsl,
          idCol = "event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    },
    qEventsDslTime.oracle)

  /** Explicit set operations (beyond the anti-join): INTERSECT and EXCEPT
    * of two customer-key sets, tagged and unioned into one result.
    * Computed as ONE left join with a presence tag: the literal
    * `.intersect` + `.except` pair plans two INDEPENDENT subtrees —
    * orders scanned, deduped, and broadcast twice, with no exchange
    * reuse across the semi/anti branches (r8 plan audit; idle first-run
    * 4.6 s vs 0.9 s for this form) — where the join form derives both
    * partitions of `b` from a single probe. Exact set semantics because
    * c_custkey is the customer PK (unique left side); a multiset left
    * side would need a `.distinct()` on `b` first. The oracle keeps the
    * INTERSECT/EXCEPT spelling — the gate proves the join form IS the
    * set-op pair. */
  val qSetOps = Q("q_set_ops",
    (s, dir) => {
      val b = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey")).distinct()
      b.join(o.withColumn("__hit", lit(1)), Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          when(col("__hit").isNotNull, lit("both"))
            .otherwise(lit("building_only")).as("tag"))
        .orderBy("tag", "c_custkey")
    },
    Some("""
      WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      o AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
      i AS (SELECT c_custkey FROM b INTERSECT SELECT c_custkey FROM o),
      e AS (SELECT c_custkey FROM b EXCEPT SELECT c_custkey FROM o)
      SELECT c_custkey, 'both' AS tag FROM i
      UNION ALL
      SELECT c_custkey, 'building_only' AS tag FROM e
      ORDER BY tag, c_custkey"""))

  /** CUBE grouping sets (rollup's 2ⁿ-combination sibling). */
  val qCube = Q("q_cube",
    (s, dir) =>
      Tables.load(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(20,2)")).cast("double")
            .as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority")),
    Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  /** Salted two-phase aggregation (operators/Skew): result must equal the
    * direct GROUP BY — the oracle IS the direct form, so the gate proves
    * the salting rewrite is semantics-preserving. */
  val qSaltedAgg = Q("q_salted_agg",
    (s, dir) =>
      graft.operators.Skew.saltedSumCount(
          Tables.load(s, dir, "events"),
          keys = Seq("event_type"), valueCol = "value",
          rowId = "event_id", buckets = 16)
        .select("event_type", "n", "sum_value")
        .orderBy("event_type"),
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY event_type ORDER BY event_type"""))

  /** AS-OF join over the event stream (the time-series operator Spark
    * lacks natively, via operators/AsOf — union + one keyed shuffle +
    * running window, never a range join): for each click, the latest view
    * by the same user at or before it. µs integers end-to-end (events ts
    * is ns; DuckDB truncates TIMESTAMP_NS to µs, so both engines work in
    * `ts DIV 1000` — see the q_events_hourly precedent). Sentinels: no
    * preceding view → last_view_us = 0, gap_us = -1. */
  /** FORWARD as-of join (operators/AsOf.asofJoinForward): for each view
    * event, the same user's NEXT click strictly after it — time-to-next-
    * click, the forward complement of q_asof_join's last-view-before
    * lookup (pandas merge_asof direction='forward' / ClickHouse ASOF >).
    * Same union + one-shuffle + running-window cost; the oracle replays
    * the mirrored frame (1 FOLLOWING → UNBOUNDED FOLLOWING, quotes
    * sorting before probes at ties so a same-µs click does NOT match). */
  val qAsofForward = Q("q_asof_forward",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("tsu", expr("ts DIV 1000"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("tsu"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu"))
      graft.operators.AsOf.asofJoinForward(views, clicks, "user_id", "tsu",
          asofCol = "next_click_us")
        .select(col("event_id"), col("user_id"), col("tsu").as("view_us"),
          coalesce(col("next_click_us"), lit(-1L)).as("nc_us"),
          expr("CASE WHEN next_click_us IS NULL THEN -1 " +
            "ELSE next_click_us - tsu END").as("wait_us"))
        .withColumnRenamed("nc_us", "next_click_us")
        .orderBy("event_id")
    },
    Some("""
      WITH u AS (
        SELECT user_id, epoch_us(ts) AS tsu, 1 AS side, event_id
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, epoch_us(ts) AS tsu, 0 AS side, NULL
        FROM events WHERE event_type = 'click'),
      w AS (
        SELECT *, MIN(CASE WHEN side = 0 THEN tsu END) OVER (
          PARTITION BY user_id ORDER BY tsu, side
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
        FROM u)
      SELECT event_id, user_id, tsu AS view_us,
             COALESCE(nc, -1) AS next_click_us,
             CASE WHEN nc IS NULL THEN -1 ELSE nc - tsu END AS wait_us
      FROM w WHERE side = 1 ORDER BY event_id"""))

  val qAsofJoin = Q("q_asof_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("tsu", expr("ts DIV 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tsu"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tsu"))
      graft.operators.AsOf.asofJoin(clicks, views, "user_id", "tsu",
          asofCol = "last_view_us")
        .select(col("event_id"), col("user_id"), col("tsu").as("click_us"),
          coalesce(col("last_view_us"), lit(0L)).as("lv_us"),
          expr("CASE WHEN last_view_us IS NULL THEN -1 " +
            "ELSE tsu - last_view_us END").as("gap_us"))
        .withColumnRenamed("lv_us", "last_view_us")
        .orderBy("event_id")
    },
    Some("""
      WITH u AS (
        SELECT user_id, epoch_us(ts) AS tsu, 1 AS side, event_id
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, epoch_us(ts) AS tsu, 0 AS side, NULL
        FROM events WHERE event_type = 'view'),
      w AS (
        SELECT *, MAX(CASE WHEN side = 0 THEN tsu END) OVER (
          PARTITION BY user_id ORDER BY tsu, side
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
        FROM u)
      SELECT event_id, user_id, tsu AS click_us,
             COALESCE(lv, 0) AS last_view_us,
             CASE WHEN lv IS NULL THEN -1 ELSE tsu - lv END AS gap_us
      FROM w WHERE side = 1 ORDER BY event_id"""))

  /** Exact per-group percentiles (p50/p95 of l_extendedprice by
    * returnflag) computed as explicit order statistics in integer
    * arithmetic: prices quantize to cents, the target position is
    * p·(n−1) in micro units, and the linear interpolation
    * v_lo·(1e6−f) + v_hi·f stays a BIGINT — engine `percentile` /
    * `quantile_cont` aggregates can associate the interpolation
    * differently at the last ulp, this cannot. Plan (r7): per-value
    * counts fold map-side (the shuffle is ∝ DISTINCT values, never
    * rows), the cumulative count AND the per-flag total n both ride one
    * window sort over the distinct-value table, and the rank lookup is
    * an in-row predicate (v covers rank r iff cum−c < r ≤ cum) — one
    * scan, one bounded exchange, zero joins, no corpus-row ranking
    * anywhere (the approximate path at 100 TB is
    * `approx_percentile`/t-digest, which no independent engine can
    * replay). */
  val qPercentile = Q("q_percentile",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      // spreadBy on the GROUPING key (r17): the single-row-group fact
      // scan ran the cents quantization + per-value count partial agg
      // serially (Dev prof: 0.54 s of the 1.7 s total). Hash-spreading on
      // (flag, cents) parallelizes the count AND the downstream groupBy
      // REUSES this exchange (same key — guide §2.4), so the plan's
      // exchange count is unchanged; cluster no-op by Par's gate.
      val li = graft.operators.Par.spreadBy(
        Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
              .as("cents")),
        col("flag"), col("cents"))
      // Exact order statistics WITHOUT ranking rows: fold to per-value
      // counts first (map-side-combinable; the shuffle is ∝ DISTINCT
      // values, never rows), then a cumulative count over the distinct-
      // value table. The row at rank r is min{v : cum(v) ≥ r} — identical
      // values to a row_number over all rows, but the only per-group sort
      // touches the value domain, not the corpus (the previous window
      // form pushed every row through |flags|=3 fixed partitions — the
      // same scale defect class as the r6 pipe_balance fix).
      // ONE corpus scan, ONE distinct-value exchange, NO joins (r7): the
      // per-flag total n rides on the SAME window partitioning as cum
      // (max over the unbounded flag frame — no second exchange), and the
      // rank lookup becomes an in-row predicate: value v covers row-rank
      // r iff cum−c < r ≤ cum (the cum ranges partition the ranks, so
      // exactly one value hits each r). The final aggregate folds
      // map-side to |flags|·|ps| rows.
      // cum and n share ONE window spec (same partitioning AND ordering;
      // n is the unbounded-both-ends frame), so both compute in a single
      // WindowExec pass — the max-over-repartition form planned a second
      // Window over the same sorted child (r8, verdict #5). The per-flag
      // sort touches only the distinct VALUE domain (≤ ~10^7 cents —
      // domain-bounded at any corpus size, not corpus-bounded); if a
      // wider domain ever made the per-flag partitions heavy, the
      // escalation is two-level bucketing (cents DIV 2^16 offsets + a
      // within-bucket window) — measured here at sf0.1 and REJECTED: the
      // extra distinct-table exchange it needs costs more than the
      // 3-partition sort it parallelizes (2.2 s vs 1.8 s min-of-2).
      val wSpec = Window.partitionBy("flag").orderBy("cents")
      val vc = li.groupBy("flag", "cents").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(wSpec))
        .withColumn("n", sum("c").over(wSpec.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      // All four order-statistic lookups (p50/p95 × lo/hi) fold in ONE
      // flag-grouped aggregate over the distinct-value table — the
      // explode-then-aggregate form doubled every distinct row through
      // the final agg (r8, verdict #5); the per-p expansion now happens
      // on the 3-row result. lo/f are per-flag constants (functions of
      // n), so min(lo)/min(f) just carries them through the agg.
      def vAt(lo: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        min(when(col("cum") - col("c") < lo && lo <= col("cum"),
          col("cents")))
      val ps = Seq(500000L, 950000L)
      val cols = ps.flatMap { p =>
        val lo = expr(s"($p * (n - 1)) DIV 1000000") // integer-exact
        val f = expr(s"($p * (n - 1)) % 1000000")
        Seq(vAt(lo + 1).as(s"v_lo_$p"), vAt(lo + 2).as(s"v_hi_$p"),
          min(f).as(s"f_$p"))
      }
      vc.groupBy("flag")
        .agg(cols.head, cols.tail: _*)
        .select(col("flag"), explode(array(ps.map { p =>
          struct(lit(p).as("p_micro"),
            (col(s"v_lo_$p") * (lit(1000000L) - col(s"f_$p")) +
              coalesce(col(s"v_hi_$p"), col(s"v_lo_$p")) * col(s"f_$p"))
              .as("pct_ucents"))
        }: _*)).as("__e"))
        .select(col("flag"), col("__e.p_micro").as("p_micro"),
          col("__e.pct_ucents").as("pct_ucents"))
        .orderBy("flag", "p_micro")
    },
    Some("""
      WITH li AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem),
      ranked AS (
        SELECT flag, cents,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cents) AS rn
        FROM li),
      tgt AS (
        SELECT flag, n, p_micro, p_micro * (n - 1) AS pos,
               (p_micro * (n - 1)) // 1000000 AS lo,
               (p_micro * (n - 1)) % 1000000 AS f
        FROM (SELECT flag, COUNT(*) AS n FROM li GROUP BY flag)
        CROSS JOIN (SELECT unnest([500000, 950000]) AS p_micro))
      SELECT t.flag, CAST(t.p_micro AS BIGINT) AS p_micro,
             CAST(r1.cents * (1000000 - t.f)
               + COALESCE(r2.cents, r1.cents) * t.f AS BIGINT) AS pct_ucents
      FROM tgt t
      JOIN ranked r1 ON r1.flag = t.flag AND r1.rn = t.lo + 1
      LEFT JOIN ranked r2 ON r2.flag = t.flag AND r2.rn = t.lo + 2
      ORDER BY t.flag, p_micro"""))

  /** Z-ORDER layout accounting (operators/Layout.scala): Morton-interleave
    * the low 16 bits of (l_partkey, l_suppkey), bucket rows by z-range
    * (zval >> 23 — the per-file split a `repartitionByRange(zval)` +
    * sorted write would produce), and emit each bucket's row count and
    * per-dimension min/max — i.e. the data-skipping index the writer
    * persists. The Morton guarantee this gates: fixing z-bits ≥ 23 fixes
    * partkey bits ≥ 12 and suppkey bits ≥ 11, so every bucket spans
    * < 2¹² partkeys AND < 2¹¹ suppkeys simultaneously — predicates on
    * EITHER column prune buckets, which a single-column sort cannot give.
    * The z-value is a narrow literal-shift expression (codegen, no UDF);
    * stats are one map-side-combined aggregation. At scale the only wide
    * op in the real rewrite is the range exchange itself. */
  val qZorder = Q("q_zorder",
    (s, dir) => {
      import graft.operators.Layout
      // stats are over the MASKED 16-bit keys the z-value interleaves —
      // wider keys alias into the same low-16 cell (the real fix at
      // larger key domains is raising `bits`), and masking keeps the
      // per-bucket bound guarantee true at every scale rather than only
      // while keys happen to fit 16 bits
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").cast("long").bitwiseAND(lit(65535L))
            .as("pk"),
          col("l_suppkey").cast("long").bitwiseAND(lit(65535L)).as("sk"))
        .withColumn("zbucket",
          shiftright(Layout.zValue(col("pk"), col("sk"), 16), 23))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("pk").as("min_pk"), max("pk").as("max_pk"),
          min("sk").as("min_sk"), max("sk").as("max_sk"))
        .orderBy("zbucket")
    },
    Some(s"""
      WITH b AS (
        SELECT CAST(l_partkey AS BIGINT) & 65535 AS pk,
               CAST(l_suppkey AS BIGINT) & 65535 AS sk
        FROM lineitem),
      z AS (
        SELECT pk, sk, ${graft.operators.Layout.zValueSql("pk", "sk", 16)}
                 AS zv
        FROM b)
      SELECT zv >> 23 AS zbucket, COUNT(*) AS n_rows,
             MIN(pk) AS min_pk, MAX(pk) AS max_pk,
             MIN(sk) AS min_sk, MAX(sk) AS max_sk
      FROM z GROUP BY 1 ORDER BY 1"""))

  /** Z-ORDER PRUNED READ — the consumer side of the q_zorder layout: the
    * lineitem projection is MATERIALIZED once per fixture partitioned by
    * z-bucket (`Tables.memoTempDir`, the IVF-index discipline), the
    * per-bucket min/max stats (the q_zorder output — tiny, bounded by
    * the bucket count) are read driver-side, buckets whose [min,max]
    * box intersects the 2-D predicate become a LITERAL isin list — the
    * same probes-as-PartitionFilters discipline as `ann_ivf_indexed` —
    * and the exact predicate re-checks inside only the surviving
    * buckets. This is what a z-ordered table write buys at 100 TB:
    * predicates on EITHER interleaved column skip most of the data (a
    * single-column sort prunes only its own column). The oracle is the
    * plain WHERE on lineitem — pruning must not change one row; the
    * spec asserts PartitionFilters carries the bucket list and that
    * pruning actually skipped buckets. */
  val qZorderPrune = Q("q_zorder_prune",
    (s, dir) => {
      import graft.operators.Layout
      val baseDir = Tables.memoTempDir("zord", dir) { target =>
        val laid = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey").cast("long").bitwiseAND(lit(65535L)).as("pk"),
            col("l_suppkey").cast("long").bitwiseAND(lit(65535L)).as("sk"),
            col("l_extendedprice"))
          .withColumn("zbucket",
            shiftright(Layout.zValue(col("pk"), col("sk"), 16), 23))
        laid.write.mode("overwrite").partitionBy("zbucket")
          .parquet(s"$target/layout")
        // the per-bucket min/max stats are part of the LAYOUT — written
        // once at materialization (what a z-ordered table writer persists
        // as its data-skipping index), never recomputed by readers: a
        // query that re-scanned the layout to rebuild them would read
        // 100% of the bytes before its "pruned" read
        laid.groupBy("zbucket")
          .agg(min("pk").as("min_pk"), max("pk").as("max_pk"),
            min("sk").as("min_sk"), max("sk").as("max_sk"))
          .coalesce(1).write.mode("overwrite").parquet(s"$target/stats")
      }
      val layoutDir = s"$baseDir/layout"
      val (pkLo, pkHi, skLo, skHi) = (20L, 160L, 2L, 8L)
      // stats lookup: the tiny PERSISTED stats table (bounded by the
      // bucket count, 2^9 at 16-bit keys) — the documented k-bounded
      // driver collect of the probe discipline
      // cast to the layout's DISCOVERED partition type (int — directory
      // names infer narrow) so the literal isin list prunes statically
      val buckets = s.read.parquet(s"$baseDir/stats")
        .filter(col("max_pk") >= pkLo && col("min_pk") <= pkHi &&
          col("max_sk") >= skLo && col("min_sk") <= skHi)
        .select(col("zbucket").cast("int")).collect().map(_.get(0))
      s.read.parquet(layoutDir)
        .filter(col("zbucket").isin(ArraySeq.unsafeWrapArray(buckets): _*))
        .filter(col("pk") >= pkLo && col("pk") <= pkHi &&
          col("sk") >= skLo && col("sk") <= skHi)
        .groupBy("pk")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double")
            .as("sum_price"))
        .orderBy("pk")
    },
    Some("""
      SELECT CAST(l_partkey AS BIGINT) & 65535 AS pk, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem
      WHERE (CAST(l_partkey AS BIGINT) & 65535) BETWEEN 20 AND 160
        AND (CAST(l_suppkey AS BIGINT) & 65535) BETWEEN 2 AND 8
      GROUP BY 1 ORDER BY pk"""))

  /** ORDERED conversion funnel (view → click → purchase): step i counts
    * users whose earliest step-i event STRICTLY FOLLOWS their step-(i−1)
    * completion time — the sequencing semantics of ClickHouse's
    * `windowFunnel` / every product-analytics engine, not three
    * independent counts.
    *
    * Scale shape: each stage filters to ONE event type before its
    * user-keyed aggregation, so the shuffled volume is that stage's
    * candidate rows only, and the stage tables shrink monotonically
    * (clicks-after-view ⊆ viewers, …). The per-stage join keys on
    * user_id against the previous stage's 1-row-per-user table — AQE
    * broadcasts it while it fits, co-partitioned shuffle join past that.
    * Timestamps compare in exact µs (`ts DIV 1000` == DuckDB
    * `epoch_us`, the fixture's ns-as-LONG discipline). */
  val qFunnel = Q("q_funnel",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          call_function("div", col("ts"), lit(1000L)).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") > col("t1"))
        .groupBy("user_id").agg(min("us").as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("us") > col("t2"))
        .groupBy("user_id").agg(min("us").as("t3"))
      v.agg(count(lit(1)).as("n_users"))
        .select(lit(1).cast("int").as("step"), col("n_users"))
        .unionAll(c.agg(count(lit(1)).as("n_users"))
          .select(lit(2).cast("int").as("step"), col("n_users")))
        .unionAll(p.agg(count(lit(1)).as("n_users"))
          .select(lit(3).cast("int").as("step"), col("n_users")))
        .orderBy("step")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, MIN(us) AS t1 FROM e
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, MIN(e.us) AS t2 FROM e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY 1),
      p AS (SELECT e.user_id, MIN(e.us) AS t3 FROM e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY 1)
      SELECT CAST(1 AS INT) AS step, (SELECT COUNT(*) FROM v) AS n_users
      UNION ALL
      SELECT CAST(2 AS INT), (SELECT COUNT(*) FROM c)
      UNION ALL
      SELECT CAST(3 AS INT), (SELECT COUNT(*) FROM p)
      ORDER BY step"""))

  /** COHORT RETENTION matrix: cohort = the user's first-ever event day,
    * cell (cohort_day, day_offset ≤ 14) = distinct users from that cohort
    * active offset days later (+ their event volume) — the
    * product-analytics retention table.
    *
    * Scale shape: one user-keyed agg for the cohort assignment, one
    * user-keyed join back (same partitioning — AQE reuses the exchange
    * side or broadcasts the 1-row-per-user table), then a
    * (cohort, offset)-keyed agg whose distinct-count partials combine
    * map-side. Days bucket in exact epoch-ns integers (the
    * q_events_hourly precedent — float division at 1e18 ns is lossy). */
  val qRetention = Q("q_retention",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(first, "user_id")
        .withColumn("day_offset", (col("day") - col("cohort_day")).cast("int"))
        .filter(col("day_offset") <= 14)
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("cohort_day", "day_offset")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
                 FROM events),
      f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1)
      SELECT f.cohort_day, CAST(e.day - f.cohort_day AS INT) AS day_offset,
             COUNT(DISTINCT e.user_id) AS n_users, COUNT(*) AS n_events
      FROM e JOIN f USING (user_id)
      WHERE e.day - f.cohort_day <= 14
      GROUP BY 1, 2
      ORDER BY cohort_day, day_offset"""))

  /** PageRank over the user-navigation page graph — the web-graph quality
    * signal large-scale corpus curation uses (CommonCrawl-style: rank a
    * page/domain graph, keep documents from well-linked sources). Edges
    * are consecutive events of one user (`lag` over the per-user µs
    * timeline): src = previous page `props.k`, dst = current page,
    * self-loops dropped, multi-edges kept (traversal-weighted). Three
    * damped iterations in exact micro-integer arithmetic
    * (`r' = 150000 DIV N + (850·Σ r(src) DIV outdeg(src)) DIV 1000`,
    * all operands non-negative so Spark `DIV` == DuckDB `//`); the
    * oracle unrolls the iterations as CTEs, so the gate replays the
    * ALGORITHM, not just a final projection. Dangling-node mass is
    * dropped (documented; identical both sides).
    *
    * Scale shape: the edge list (one per-user-window shuffle) and node
    * set are MATERIALIZED once per fixture (`Tables.memoTempDir` — the
    * derived-layout discipline the IVF/sparse indexes use): an iterative
    * DataFrame loop otherwise re-derives its whole lineage per round, so
    * the un-materialized form scans events 3× through the window — the
    * distributed-PageRank standard is persist-the-edges, iterate-joins.
    * Each iteration is then edges ⋈ ranks on src (rank-table rows =
    * distinct pages — NO forced broadcast, node count scales with the
    * corpus; AQE decides) + a dst-keyed partial-combined sum + a left
    * join back to the node set: linear in |edges| per round. */
  val pipePagerank = Q("pipe_pagerank",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.memoTempDir("pr_graph", dir) { target =>
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            call_function("div", col("ts"), lit(1000L)).as("us"),
            get_json_object(col("props"), "$.k").cast("long").as("page"))
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val edges = ev
          .withColumn("src", lag("page", 1).over(w))
          .filter(col("src").isNotNull && col("src") =!= col("page"))
          .select(col("src"), col("page").as("dst"))
        val outd = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
        edges.join(outd, "src").write.parquet(s"$target/edges")
        ev.select("page").distinct().write.parquet(s"$target/nodes")
      }
      val e = s.read.parquet(s"$base/edges")
      val nodes = s.read.parquet(s"$base/nodes")
      val nRow = broadcast(nodes.agg(count(lit(1)).as("n"))) // 1 row
      val r0 = nodes.crossJoin(nRow)
        .select(col("page"), expr("1000000 DIV n").as("r_micro"))
      val r3 = (1 to 3).foldLeft(r0) { (r, _) =>
        val contrib = e.join(r, e("src") === r("page"))
          .select(col("dst"), expr("r_micro DIV outdeg").as("c"))
          .groupBy("dst").agg(sum("c").as("s"))
        nodes.join(contrib, nodes("page") === contrib("dst"), "left")
          .crossJoin(nRow)
          .select(col("page"),
            expr("150000 DIV n + (850 * coalesce(s, 0L)) DIV 1000")
              .as("r_micro"))
      }
      r3.orderBy(desc("r_micro"), col("page"))
        .limit(20)
        .select(col("page"), col("r_micro").as("rank_micro"))
    },
    Some {
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""s$i AS (SELECT e.dst AS page, SUM(r.r // o.outdeg) AS s
             FROM edges e JOIN $prev r ON r.page = e.src
             JOIN outd o ON o.src = e.src GROUP BY 1),
         r$i AS (SELECT n.page,
                   150000 // (SELECT n FROM nn)
                   + (850 * COALESCE(s.s, 0)) // 1000 AS r
                 FROM nodes n LEFT JOIN s$i s ON s.page = n.page)"""
      }.mkString(",\n")
      s"""
      WITH e0 AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                         CAST(props->>'$$.k' AS BIGINT) AS page
                  FROM events),
      seq AS (SELECT user_id, page,
                     LAG(page) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS prev
              FROM e0),
      edges AS (SELECT prev AS src, page AS dst FROM seq
                WHERE prev IS NOT NULL AND prev <> page),
      nodes AS (SELECT DISTINCT page FROM e0),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      r0 AS (SELECT page, 1000000 // (SELECT n FROM nn) AS r FROM nodes),
      $iters
      SELECT page, CAST(r AS BIGINT) AS rank_micro
      FROM r3
      ORDER BY rank_micro DESC, page
      LIMIT 20"""
    })

  /** 3σ OUTLIER FLAGGING over the event stream — the numeric
    * data-quality gate a training pipeline runs on metric columns
    * (sensor glitches, log corruption, unit errors) before aggregation.
    * Entirely EXACT integer arithmetic: values micro-quantize, per-type
    * moments (n, Σv, Σv²) fold map-side in decimal, and the 3σ test is
    * the cross-multiplied form (v·n − S)² > 9·(n·Q − S²) — no division,
    * no sqrt, so DuckDB (HUGEINT) computes bit-identical booleans.
    * Output pins the flagged SET per type (count + id sum), not just
    * counts.
    *
    * Scale shape: one corpus scan folds the 3-number moment per type
    * map-side; the stats table (one row per event type) joins back via
    * AQE broadcast; the outlier aggregation folds map-side again. Two
    * narrow passes, shuffle ∝ |event types|. The decimal cross-products
    * stay exact below ~1e38 — micro-values ×  row counts to ~1e12 rows;
    * beyond that the production form drops to DOUBLE Welford (the test
    * is a 3σ heuristic; the decimal path is what makes it ORACLE-exact
    * at fixture scale). The bound is ENFORCED, not assumed: the stats
    * table asserts every cross-product the flag reads (n·q, s², and the
    * 4·n²·vmax² bound on any row's dev²) is representable — with ANSI
    * off a decimal(38,0) overflow is a silent NULL that would silently
    * DROP outliers, so a scale-up past ~1e38 fails loudly here instead. */
  val qEventsAnomaly = Q("q_events_anomaly",
    (s, dir) => {
      val em = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 1e6 + lit(0.5)).cast("decimal(38,0)")
            .as("vm"))
      // |dev| = |vm·n − s| ≤ 2·n·vmax, so dev² ≤ 4·n²·vmax²: if that
      // bound and the variance cross-products are non-null (no decimal
      // overflow), every per-row flag below is exact. Null inputs
      // (all-null value column) are "no data", not overflow — skipped.
      def noOverflow(in: org.apache.spark.sql.Column,
                     product: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        in.isNull || product.isNotNull
      val st = em.groupBy("event_type").agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("vm").as("s"),
          sum(col("vm") * col("vm")).as("q"),
          max(abs(col("vm"))).as("vmax"))
        .filter(coalesce(assert_true(
          noOverflow(col("q"), col("n") * col("q")) &&
            noOverflow(col("s"), col("s") * col("s")) &&
            noOverflow(col("vmax"), lit(4) * col("n") * col("n") *
              col("vmax") * col("vmax")),
          lit("q_events_anomaly: decimal(38,0) moment cross-products " +
            "overflow ~1e38 — switch to the double Welford form")),
          lit(true)))
        .drop("vmax")
      val dev = col("vm") * col("n") - col("s")
      val outliers = em.join(st, "event_type")
        .filter(dev * dev > lit(9) * (col("n") * col("q") -
          col("s") * col("s")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outliers"),
          sum("event_id").as("outlier_id_sum"))
      st.join(outliers, Seq("event_type"), "left")
        .select(col("event_type"), col("n").cast("long").as("n"),
          coalesce(col("n_outliers"), lit(0L)).as("n_outliers"),
          coalesce(col("outlier_id_sum"), lit(0L)).as("outlier_id_sum"))
        .orderBy("event_type")
    },
    Some("""
      WITH em AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1000000 + 0.5) AS HUGEINT) AS vm
        FROM events),
      st AS (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(vm) AS s, SUM(vm * vm) AS q
        FROM em GROUP BY event_type),
      o AS (
        SELECT em.event_type, em.event_id
        FROM em JOIN st ON st.event_type = em.event_type
        WHERE (em.vm * st.n - st.s) * (em.vm * st.n - st.s)
              > 9 * (st.n * st.q - st.s * st.s)),
      oa AS (
        SELECT event_type, COUNT(*) AS cnt, SUM(event_id) AS idsum
        FROM o GROUP BY event_type)
      SELECT st.event_type, CAST(st.n AS BIGINT) AS n,
             CAST(COALESCE(oa.cnt, 0) AS BIGINT) AS n_outliers,
             CAST(COALESCE(oa.idsum, 0) AS BIGINT) AS outlier_id_sum
      FROM st LEFT JOIN oa ON oa.event_type = st.event_type
      ORDER BY st.event_type"""))

  /** SALTED fact→dim JOIN (operators/Skew.saltedJoin): every event
    * enriched with its user's customer record, the join salted so a hot
    * user's events spread over 16 reducers instead of serializing on
    * one — the manual skew-join rewrite for engines/paths without AQE
    * runtime splitting (streaming micro-batches; known-ahead skew). The
    * oracle IS the plain join + aggregate, so the gate proves salting is
    * semantics-preserving; the salted shuffle is hint-free (no broadcast
    * forced — at fixture scale AQE may still broadcast the replicated
    * dim, which composes fine: salting only ever matters when the dim
    * is too big to broadcast AND keys are hot). */
  val qSaltedJoin = Q("q_salted_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "user_id", "value")
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
      graft.operators.Skew.saltedJoin(ev, cust,
          factKey = "user_id", dimKey = "c_custkey",
          rowId = "event_id", buckets = 16)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)")).cast("double")
            .as("sum_value"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c.c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(e.value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
      GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"""))

  /** VALUE-BASED RANGE window frame — the window class where the frame
    * is defined by the ORDER value, not row offsets (`RANGE BETWEEN 30
    * PRECEDING AND CURRENT ROW` over days): each order carries its
    * customer's trailing-30-day order count and revenue — the rolling
    * feature every churn/LTV model computes. RANGE semantics (all PEERS
    * of the frame bound enter the frame together, unlike ROWS) are
    * identical in Spark and DuckDB over an integer day column; sums stay
    * decimal-exact. One customer-keyed shuffle, per-partition frame
    * scan — the plan a 100 TB feature-backfill wants. */
  val qWindowRange = Q("q_window_range",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("day")).rangeBetween(-30, 0)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").as("day"),
          col("o_totalprice"))
        .withColumn("n_30d", count(lit(1)).over(w))
        .withColumn("rev_30d",
          sum(col("o_totalprice").cast("decimal(20,2)")).over(w)
            .cast("double"))
        .select("o_orderkey", "o_custkey", "day", "n_30d", "rev_30d")
        .orderBy("o_orderkey")
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
               o_totalprice
        FROM orders)
      SELECT o_orderkey, o_custkey, day,
             COUNT(*) OVER w AS n_30d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) OVER w
               AS DOUBLE) AS rev_30d
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey"""))

  /** PIVOT + UNPIVOT round-trip — the reshaping operator pair
    * (`groupBy().pivot()` and `Dataset.unpivot`/SQL `stack`), gated in
    * one query: statuses pivot to wide columns (pinned literal value
    * list — never the two-pass value discovery), then unpivot back to
    * long form, which must equal the DIRECT long-form aggregation (the
    * oracle). Decimal sums keep cells exact; empty cells (a (priority,
    * status) pair with no orders) become NULL in the wide form and are
    * dropped on unpivot, matching the direct aggregation's absent rows.
    * Scale: pivot with a pinned value list is ONE hash aggregation with
    * |values|·|aggs| columns — same shuffle as the plain groupBy;
    * unpivot is a narrow generator. */
  val qPivot = Q("q_pivot",
    (s, dir) => {
      val statuses = Seq("F", "O", "P")
      val wide = Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(sum(col("o_totalprice").cast("decimal(20,2)")).as("sp"))
      wide.unpivot(Array(col("o_orderpriority")),
          statuses.map(col).toArray, "o_orderstatus", "sp")
        .filter(col("sp").isNotNull)
        .select(col("o_orderpriority"), col("o_orderstatus"),
          col("sp").cast("double").as("sum_price"))
        .orderBy("o_orderpriority", "o_orderstatus")
    },
    Some("""
      SELECT o_orderpriority, o_orderstatus,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
               AS sum_price
      FROM orders
      WHERE o_orderstatus IN ('F', 'O', 'P')
      GROUP BY o_orderpriority, o_orderstatus
      ORDER BY o_orderpriority, o_orderstatus"""))

  /** CHANGELOG COMPACTION — the "current state" view over an event log
    * (the CDC/upsert-materialization read: latest record per key wins),
    * computed as a map-side-combinable argmax `max(struct(ts, event_id,
    * …))` per user rather than a rank window — no per-key sort, partial
    * heaps fold before the single key-shuffle, the same reason
    * `Ingest.upsert` uses keep-last-by-seq. Tie-break on equal ts by
    * event_id (struct comparison is lexicographic), pinned so the
    * oracle's ROW_NUMBER replay agrees. */
  val qEventsLatest = Q("q_events_latest",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), col("event_type"),
            col("value")).as("__e"))
        .groupBy("user_id")
        .agg(max("__e").as("__m"))
        .select(col("user_id"), col("__m.ts").as("ts"),
          col("__m.event_id").as("event_id"),
          col("__m.event_type").as("event_type"),
          floor(col("__m.value") * 100 + lit(0.5)).cast("long")
            .as("value_cents"))
        .orderBy("user_id")
    },
    Some("""
      WITH r AS (
        SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, tsn AS ts, event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
      FROM r WHERE rn = 1 ORDER BY user_id"""))

  /** RANGE JOIN via interval bucketing — the operator class Spark has no
    * native physical strategy for (a value-vs-interval theta join plans
    * as BroadcastNestedLoopJoin: every row against every interval). The
    * standard distributed rewrite: quantize the value domain into
    * fixed-width buckets, expand each interval into the buckets it
    * overlaps, equi-join point-bucket = interval-bucket, then re-check
    * the exact predicate on the (hugely reduced) candidates. Work is
    * ∝ points + Σ(interval span)/W instead of points × intervals, and it
    * shuffles like any equi-join — the Databricks/Photon "range join
    * optimization" re-expressed in plain DataFrame ops. The interval set
    * here is 100 deterministic percolator-style stored queries
    * (reverse search: which stored subscriptions match each incoming
    * event); the oracle replays the plain theta join — the gate proves
    * bucketing changes nothing. OperatorSpec asserts the plan is an
    * equi-HASH join, not a nested loop. */
  val qRangeJoin = Q("q_range_join",
    (s, dir) => {
      import s.implicits._
      val W = 50L // bucket width in value units
      // 100 deterministic stored intervals [lo, hi) over the value
      // domain, spans 10..100 units so several buckets each
      val intervals = (0 until 100).map { i =>
        val lo = (i * 37L) % 900
        (i.toLong, lo.toDouble, (lo + 10 + (i * 13) % 90).toDouble)
      }.toDF("qid", "lo", "hi")
        .withColumn("bucket",
          explode(sequence(floor(col("lo") / W).cast("long"),
            // inclusive upper bucket: one possibly-spurious bucket per
            // interval (hi is exclusive) is harmless — the exact
            // predicate re-check drops it; an ε-subtraction instead
            // could MISS values in (hi−ε, hi)
            floor(col("hi") / W).cast("long"))))
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("value"),
          floor(col("value") / W).cast("long").as("bucket"))
      ev.join(intervals, "bucket")
        .filter(col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("qid")
        .agg(count(lit(1)).as("n_matches"),
          sum("event_id").as("match_id_sum"))
        .orderBy("qid")
    },
    Some("""
      WITH iv AS (
        SELECT CAST(i AS BIGINT) AS qid,
               CAST((i * 37) % 900 AS DOUBLE) AS lo,
               CAST((i * 37) % 900 + 10 + (i * 13) % 90 AS DOUBLE) AS hi
        FROM (SELECT unnest(range(100)) AS i))
      SELECT iv.qid, COUNT(*) AS n_matches,
             CAST(SUM(e.event_id) AS BIGINT) AS match_id_sum
      FROM iv JOIN events e ON e.value >= iv.lo AND e.value < iv.hi
      GROUP BY iv.qid ORDER BY iv.qid"""))

  def queries: Seq[Q] = Seq(q1Pricing, q3TopOrders, q5RegionRevenue,
    qBrandAgg, qWindowTopn, qRollup, qCube, qSetOps, qCustNoOrders,
    qEventsHourly, qEventsSliding, qEventsJson, qEventsDslTime,
    qEventsDslTimeIndexed, qEventsDslTimeRouted, qSaltedAgg,
    qAsofJoin, qAsofForward,
    qPercentile, qZorder, qFunnel, qRetention, pipePagerank,
    qEventsAnomaly, qRangeJoin, qSaltedJoin, qEventsLatest, qZorderPrune,
    qPivot, qWindowRange)
}
