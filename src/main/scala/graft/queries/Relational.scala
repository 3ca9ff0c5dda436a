package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.T

/** Relational operator coverage for SURVEY.md §2 — each query is the
  * Spark-native mapping of one reference operator family, exercised on
  * the driver test tables with a DuckDB oracle.
  *
  * Reference operators covered here (file:line cites are into
  * /root/reference):
  *  - istore scan + intrinsic filters (libpdb/pdb-iterator-all.c:332,
  *    graphd/graphd-match.c) → q01
  *  - counting / count-having (graphd/graphd-read-set-count.c:21,
  *    graphd/graphd.h:474-485) → q02, q11, q19
  *  - nested-loop linkage joins: isa/linksto
  *    (graphd/graphd-iterator-isa.c:24, -linksto.c:30) → q03
  *  - existence semi-join (count>=1) / anti (count=0) / optional
  *    left-outer (graphd/graphd-read-set.c:21-35) → q04, q05, q06
  *  - or-iterator union (graphd/graphd-iterator-or.c) → q07
  *  - without set difference (graphd/graphd-iterator-without.c:23) → q08
  *  - and-iterator intersection (graphd/graphd-iterator-and.c) → q09
  *  - sort + pagesize/start top-k/offset (graphd/graphd-sort.c:21,
  *    libgdp/gdp-parse.c:1988-2032) → q10
  *  - isa dedup/distinct (graphd/graphd-iterator-isa.c:66) → q12
  *  - newest=0 version window (libpdb/pdb-generation.c,
  *    graphd/graphd.h:458-472) → q13
  *  - cursor keyset pagination (graphd/graphd-read-set-cursor.c:22) → q14
  *  - vrange value inequality scan (graphd/graphd-iterator-vrange.c:28) → q15
  *  - ~= word/substring match candidates (graphd/graphd-iterator-prefix.c,
  *    libpdb/pdb-word.c:20) → q16
  *  - timestamp range + bucketing (graphd/graphd-timestamp.c) → q17
  *  - guid-set / fixed iterator isin (graphd/graphd-iterator-fixed.c,
  *    graphd/graphd-guid-set.c) → q18
  *  - per-parent top-k sort-root (graphd/graphd-sort-root.c:21) → q20
  */
object Relational extends QueryPack {

  // Revenue-style double sums are rounded to 2dp on BOTH sides so the
  // oracle hash-compare is stable across summation orders.
  def defs: Seq[QueryDef] = Seq(

    QueryDef("q01_scan_filter",
      (s, dir) => {
        T(s, dir).lineitem
          .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin)),

    QueryDef("q02_agg",
      (s, dir) => {
        T(s, dir).lineitem
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_rows"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  count(*) AS n_rows,
             |  round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q03_join_agg",
      (s, dir) => {
        val t = T(s, dir)
        t.orders
          // customer GROWS with the corpus — no broadcast hint: the
          // optimizer broadcasts it from its scan-size estimate while
          // it fits (it does at bench SFs) and shuffle-joins past
          // that, instead of a pinned broadcast OOMing at scale.
          // nation stays hinted: a fixed 25-row dimension at every SF.
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("revenue"))
      },
      Some("""SELECT n_name, count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    QueryDef("q04_semi_join",
      (s, dir) => {
        val t = T(s, dir)
        // the probe side is DISTINCT'd before the join: existence only
        // needs each custkey once, and the partial (map-side) distinct
        // cuts the shuffled/broadcast bytes by the orders-per-customer
        // factor at every scale (guide §2.3 — aggregate before you
        // shuffle); result unchanged (semi-join ≡ semi-join on distinct)
        t.customer
          .join(t.orders.filter(col("o_orderstatus") === "F")
              .select(col("o_custkey")).distinct(),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),

    QueryDef("q05_anti_join",
      (s, dir) => {
        val t = T(s, dir)
        // same distinct-before-join trim as q04 (anti ≡ anti on distinct)
        t.customer
          .join(t.orders.select(col("o_custkey")).distinct(),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey)""".stripMargin)),

    QueryDef("q06_outer_join",
      (s, dir) => {
        val t = T(s, dir)
        // NOTE (r13): the aggregate-before-join form (orders pre-agged
        // per custkey, then one left join) is the better 100 TB shape —
        // but under the bench's count() forcing, Catalyst's distinct-key
        // propagation ELIMINATES the whole join (the pre-agged side is
        // unique on the join key and its columns prune away), so the
        // published figure would stop measuring the operator. Kept as
        // join-then-aggregate so the gate keeps timing a real outer join.
        t.customer
          .join(t.orders, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey""".stripMargin)),

    QueryDef("q07_union",
      (s, dir) => {
        val p = T(s, dir).part
        // ONE scan with a disjunctive filter instead of two scans
        // unioned (guide §1.2 — don't pass over the data twice):
        // UNION-distinct of the two branches ≡ distinct partkeys
        // matching either predicate (null predicates drop the row in
        // both formulations)
        p.filter(col("p_size") < 10 || col("p_retailprice") > 1500.0)
          .select(col("p_partkey"))
          .distinct()
      },
      Some("""SELECT p_partkey FROM part WHERE p_size < 10
             |UNION
             |SELECT p_partkey FROM part WHERE p_retailprice > 1500.0""".stripMargin)),

    QueryDef("q08_except",
      (s, dir) => {
        val o = T(s, dir).orders
        // ONE scan + ONE narrow aggregation instead of two scans and an
        // anti-join whose build side is the whole un-deduped F-side
        // custkey list (at corpus scale that join degrades to a full
        // two-sided shuffle): per custkey, fold the two existence flags
        // map-side and keep O-and-not-F. EXCEPT's null-safe set
        // semantics (null = null, output distinct) are exactly
        // groupBy's null grouping over distinct keys (RelationalSpec
        // checks both folds against DataFrame except/intersect).
        statusFlagFold(o, col("__has_o") && !col("__has_f"))
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
             |EXCEPT
             |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    QueryDef("q09_intersect",
      (s, dir) => {
        val o = T(s, dir).orders
        // same single-scan flag-fold as q08; INTERSECT = O-and-F
        statusFlagFold(o, col("__has_o") && col("__has_f"))
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
             |INTERSECT
             |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    QueryDef("q10_topk_offset",
      (s, dir) => {
        T(s, dir).orders
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .offset(5).limit(20)
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC
             |LIMIT 20 OFFSET 5""".stripMargin)),

    QueryDef("q11_count_having",
      (s, dir) => {
        T(s, dir).orders
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 15)
      },
      Some("""SELECT o_custkey, count(*) AS n FROM orders
             |GROUP BY o_custkey HAVING count(*) >= 15""".stripMargin)),

    QueryDef("q12_distinct",
      (s, dir) => {
        T(s, dir).lineitem
          .select(col("l_returnflag"), col("l_linestatus")).distinct()
      },
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    QueryDef("q13_window_newest",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        T(s, dir).orders
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey"),
            to_date(col("o_orderdate")).as("latest_date"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(o_orderdate AS DATE) AS latest_date
             |FROM (SELECT *, row_number() OVER
             |    (PARTITION BY o_custkey
             |     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |  FROM orders) WHERE rn = 1""".stripMargin)),

    QueryDef("q14_keyset_page",
      (s, dir) => {
        val after = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
        T(s, dir).orders
          .filter(col("o_orderdate") > lit(after) ||
            (col("o_orderdate") === lit(after) && col("o_orderkey") > 300))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .limit(50)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"))
      },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date
             |FROM orders
             |WHERE (o_orderdate, o_orderkey) > (TIMESTAMP '1997-06-01', 300)
             |ORDER BY o_orderdate ASC, o_orderkey ASC
             |LIMIT 50""".stripMargin)),

    QueryDef("q15_value_range",
      (s, dir) => {
        T(s, dir).part
          .filter(col("p_name") >= "g" && col("p_name") < "n")
          .select(col("p_partkey"), col("p_name"))
      },
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_name >= 'g' AND p_name < 'n'""".stripMargin)),

    QueryDef("q16_word_match",
      (s, dir) => {
        T(s, dir).part
          .filter(col("p_name").contains("ge"))
          .select(col("p_partkey"), col("p_name"))
      },
      Some("SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%ge%'")),

    QueryDef("q17_ts_bucket",
      (s, dir) => {
        val lo = java.time.Instant.parse("2024-01-10T00:00:00Z")
        val hi = java.time.Instant.parse("2024-01-20T00:00:00Z")
        val ev = graft.queries.Util.eventsNanos(T(s, dir).events)
        val hourNs = 3600L * 1000000000L
        ev.filter(col("ts_ns") >= lit(lo.getEpochSecond * 1000000000L) &&
            col("ts_ns") < lit(hi.getEpochSecond * 1000000000L))
          .groupBy(
            ((col("ts_ns") - pmod(col("ts_ns"), lit(hourNs))) / lit(1000000000L))
              .cast("long").as("bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      },
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
             |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
             |GROUP BY 1, 2""".stripMargin)),

    QueryDef("q18_guid_set",
      (s, dir) => {
        T(s, dir).nation
          .filter(col("n_name").isin("NATION_1", "NATION_7", "NATION_19", "NATION_23"))
          .select(col("n_nationkey"), col("n_name"))
      },
      Some("""SELECT n_nationkey, n_name FROM nation
             |WHERE n_name IN ('NATION_1', 'NATION_7', 'NATION_19', 'NATION_23')""".stripMargin)),

    QueryDef("q19_count_all",
      (s, dir) => {
        T(s, dir).lineitem.agg(count(lit(1)).as("cnt"))
      },
      Some("SELECT count(*) AS cnt FROM lineitem")),

    QueryDef("q21_sessionize",
      (s, dir) => {
        val gapNs = 1800L * 1000000000L // 30 min
        val ev = graft.queries.Util.eventsNanos(T(s, dir).events)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
        ev.withColumn("prev_ts", lag(col("ts_ns"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts_ns") - col("prev_ts") > gapNs, 1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_sess")).as("n_sessions"),
            count(lit(1)).as("n_events"))
      },
      Some("""SELECT user_id,
             |  CAST(sum(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM (SELECT user_id, ts,
             |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
             |      FROM events)
             |GROUP BY user_id""".stripMargin)),

    // ordered funnel (view -> click -> purchase): chained cumulative-
    // max windows over ONE user partitioning — a single shuffle, no
    // self-joins, no per-user event collection
    QueryDef("q26_funnel",
      (s, dir) => {
        val ev = graft.queries.Util.eventsNanos(T(s, dir).events)
        graft.operators.Temporal.funnel(ev, "user_id", "ts_ns",
          "event_id", "event_type", Seq("view", "click", "purchase"))
      },
      Some("""WITH w0 AS (SELECT user_id, ts, event_id, event_type,
             |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS UNBOUNDED PRECEDING) AS s0 FROM events),
             |w1 AS (SELECT *,
             |    max(CASE WHEN event_type = 'click' AND s0 = 1
             |        THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS UNBOUNDED PRECEDING) AS s1 FROM w0),
             |w2 AS (SELECT *,
             |    max(CASE WHEN event_type = 'purchase' AND s1 = 1
             |        THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS UNBOUNDED PRECEDING) AS s2 FROM w1),
             |u AS (SELECT user_id, max(s0) AS r0, max(s1) AS r1,
             |    max(s2) AS r2 FROM w2 GROUP BY user_id)
             |SELECT CAST(sum(r0) AS BIGINT) AS n_view,
             |  CAST(sum(r1) AS BIGINT) AS n_click,
             |  CAST(sum(r2) AS BIGINT) AS n_purchase
             |FROM u""".stripMargin)),

    // per-parent top-k via the bounded-top-k AGGREGATE (the
    // graphd-sort-root.c:21 cross-level optimization): the map-side
    // partial phase reduces each partition to <=2 rows per customer
    // before the exchange, where the window formulation would shuffle
    // and sort every order row
    QueryDef("q20_topk_per_parent",
      (s, dir) => {
        import graft.functions.GraphdFunctions.bounded_top_k
        T(s, dir).orders
          .groupBy(col("o_custkey"))
          .agg(bounded_top_k(struct((-col("o_totalprice")).as("np"),
            col("o_orderkey").as("o_orderkey"),
            col("o_totalprice").as("o_totalprice")), 2).as("tk"))
          .select(col("o_custkey"), posexplode(col("tk")).as(Seq("i", "r")))
          .select(col("o_custkey"), (col("i") + 1).cast("int").as("rk"),
            col("r.o_orderkey").as("o_orderkey"),
            col("r.o_totalprice").as("o_totalprice"))
      },
      Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice
             |FROM (SELECT *, row_number() OVER
             |    (PARTITION BY o_custkey
             |     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
             |  FROM orders) WHERE rk <= 2""".stripMargin)),

    // datetime-comparator ordering of date STRINGS
    // (graphd-comparator-datetime.c:856): the engine's sort key must
    // order the text form exactly like the real timestamp does
    QueryDef("q22_datetime_sort",
      (s, dir) => {
        import graft.functions.GraphdFunctions.sort_key
        // the key is PROJECTED before the sort: TakeOrderedAndProject
        // re-evaluates its SortOrder expressions on every heap
        // comparison, so an inline sort_key would run O(n log k) times
        // — as a projected attribute it runs exactly once per row
        T(s, dir).orders
          .select(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("dt"))
          .withColumn("__sk", sort_key(col("dt"), "datetime"))
          .orderBy(col("__sk").asc, col("o_orderkey").asc)
          .limit(100)
          .select(col("o_orderkey"), col("dt"))
      },
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS dt
             |FROM orders ORDER BY o_orderdate ASC, o_orderkey ASC
             |LIMIT 100""".stripMargin)),

    // AS-OF join: each click joined to the user's most recent prior
    // error — one union + one keyed window, no join node (skew-safe)
    QueryDef("q24_asof_join",
      (s, dir) => {
        val ev = graft.queries.Util.eventsNanos(T(s, dir).events)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_ns"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("prev_error_id"), col("user_id"),
            col("ts_ns"))
        graft.operators.Temporal.asOfJoin(clicks, errors, Seq("user_id"),
          "ts_ns", Seq("prev_error_id"))
          .select("event_id", "user_id", "prev_error_id")
      },
      Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events
             |  WHERE event_type = 'click'),
             |errors AS (SELECT event_id AS prev_error_id, user_id, ts
             |  FROM events WHERE event_type = 'error')
             |SELECT c.event_id, c.user_id, e.prev_error_id
             |FROM clicks c ASOF LEFT JOIN errors e
             |  ON c.user_id = e.user_id AND c.ts >= e.ts""".stripMargin)),

    // interval-point range join, binned into an equi-join: orders
    // falling inside each lineitem's ship->receipt window
    QueryDef("q25_range_join",
      (s, dir) => {
        val li = T(s, dir).lineitem
          .filter(col("l_orderkey") % 100 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"),
            date_add(col("l_shipdate"), 30).as("l_winend"))
        val ord = T(s, dir).orders.select(col("o_orderdate"))
        graft.operators.Temporal.rangeCount(li, ord,
          Seq("l_orderkey", "l_linenumber"),
          "l_shipdate", "l_winend", "o_orderdate",
          c => floor(datediff(c, lit("1992-01-01")) / 32).cast("long"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  count(o_orderdate) AS n_points
             |FROM lineitem l LEFT JOIN orders o
             |  ON o.o_orderdate BETWEEN l.l_shipdate
             |    AND l.l_shipdate + INTERVAL 30 DAY
             |WHERE l_orderkey % 100 = 0
             |GROUP BY 1, 2""".stripMargin))
  )

  /** shared single-scan set-op fold for q08/q09: per custkey, one
    * map-side aggregation of the O/F existence flags; `keep` selects
    * the set operation (EXCEPT = O∧¬F, INTERSECT = O∧F)
    */
  private[graft] def statusFlagFold(orders: DataFrame,
      keep: org.apache.spark.sql.Column): DataFrame =
    orders.filter(col("o_orderstatus").isin("O", "F"))
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderstatus") === "O").as("__has_o"),
        max(col("o_orderstatus") === "F").as("__has_f"))
      .filter(keep)
      .select(col("o_custkey").as("custkey"))
}
