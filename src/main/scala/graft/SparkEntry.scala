package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BBox, Tables, TimeRange}
import graft.operators.TrafficOps

/** One query of the registry: its name, the DataFrame it builds from a
  * session and a testdata dir, and the DuckDB SQL that is its oracle.
  */
final case class Q(name: String,
                   build: (SparkSession, String) => DataFrame,
                   oracle: String)

/** Driver contract — one [[Q]] record (builder + DuckDB oracle) per
  * operator in SURVEY.md §2, phrased over the testdata tables per
  * FIXTURES.md §2's role mapping.
  *
  * Column-name discipline: every computed column is aliased identically in
  * the DataFrame code and the oracle SQL; int-typed derivations are cast to
  * BIGINT on both sides so the hash compare sees identical schemas.
  */
object SparkEntry {

  /** Flagship (SURVEY §3.1 — the accident pipeline's shape): time-range +
    * 2-D range filter → hourly histogram. Runs on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.eventsRange(spark, dir,
      TimeRange("2024-01-05 00:00:00", "2024-01-25 00:00:00"))
    TrafficOps.hourlyCount(
      ev.filter(col("value").between(50.0, 200.0)),
      hour(col("ts")).cast("long"))
  }

  private def records: Seq[Q] = Seq(
    // ---- Aggregations (SURVEY §2.6) ----
    Q("q01_hourly_count", (s, d) =>
      Tables.events(s, d)
        .groupBy(hour(col("ts")).cast("long").as("hour"))
        .agg(count(lit(1)).as("cnt")),
      "SELECT hour(ts) AS hour, count(*) AS cnt FROM events GROUP BY hour(ts)"),

    Q("q02_group_avg", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity")).as("avg_qty"),
             count(lit(1)).as("cnt")),
      "SELECT l_returnflag, avg(l_quantity) AS avg_qty, count(*) AS cnt FROM lineitem GROUP BY l_returnflag"),

    // ---- Filters (SURVEY §2.3) ----
    Q("q03_filter_between", (s, d) =>
      // F1, pushed: range bounds rewritten to raw nanos pre-projection so
      // the predicate reaches the parquet scan (Tables.eventsRange).
      Tables.eventsRange(s, d,
          TimeRange("2024-01-10 00:00:00", "2024-01-20 00:00:00"))
        .select(col("event_id"), col("user_id"), col("event_type")),
      "SELECT event_id, user_id, event_type FROM events WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'"),

    Q("q04_filter_halfopen", (s, d) =>
      Tables.eventsRange(s, d,
          TimeRange("2024-01-10 00:00:00", "2024-01-20 00:00:00"),
          closed = false)
        .select(col("event_id"), col("user_id")),
      "SELECT event_id, user_id FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'"),

    Q("q05_filter_bbox", (s, d) =>
      TrafficOps.bboxFilter(Tables.customer(s, d),
          "c_acctbal", "c_nationkey", BBox(1000.0, 5000.0, 5.0, 15.0))
        .select(col("c_custkey"), col("c_acctbal"),
                col("c_nationkey").cast("long").as("c_nationkey"),
                col("c_mktsegment")),
      "SELECT c_custkey, c_acctbal, CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment FROM customer WHERE c_acctbal BETWEEN 1000.0 AND 5000.0 AND c_nationkey BETWEEN 5 AND 15"),

    Q("q06_filter_date_eq", (s, d) =>
      // F4 "today" slice as a pushed half-open day range [d, d+1).
      Tables.eventsOnDate(s, d, "2024-01-15")
        .select(col("event_id"), hour(col("ts")).cast("long").as("hour")),
      "SELECT event_id, hour(ts) AS hour FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'"),

    Q("q07_filter_const_cast", (s, d) =>
      // F5: constant comparison with string↔int coercion (explicit cast
      // here, unlike the reference's implicit one).
      Tables.lineitem(s, d)
        .filter(col("l_linenumber").cast("string") === lit("1") &&
                col("l_quantity") > 45)
        .select(col("l_orderkey"),
                col("l_linenumber").cast("long").as("l_linenumber"),
                col("l_quantity")),
      "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity FROM lineitem WHERE l_linenumber = 1 AND l_quantity > 45"),

    // ---- Projections (SURVEY §2.4) ----
    Q("q08_proj_alias", (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("id"), col("user_id").as("uid"),
                col("value").as("speed")),
      "SELECT event_id AS id, user_id AS uid, value AS speed FROM events WHERE event_type = 'purchase'"),

    Q("q09_proj_literal", (s, d) =>
      Tables.events(s, d)
        .filter(col("value") > 150)
        .select(col("event_id"), lit("01").as("car_type"),
                lit(1L).as("time_point")),
      "SELECT event_id, '01' AS car_type, CAST(1 AS BIGINT) AS time_point FROM events WHERE value > 150"),

    Q("q10_proj_star", (s, d) =>
      Tables.nation(s, d).filter(col("n_regionkey") === 2).select(col("*")),
      "SELECT * FROM nation WHERE n_regionkey = 2"),

    // ---- Joins (SURVEY §2.5) ----
    Q("q11_join_broadcast", (s, d) => {
      val sites = TrafficOps.bboxFilter(Tables.customer(s, d),
        "c_acctbal", "c_nationkey", BBox(0.0, 4000.0, 0.0, 24.0))
        .select(col("c_custkey"))
      TrafficOps.broadcastDimJoin(Tables.events(s, d), sites,
          "user_id", "c_custkey")
        .groupBy(hour(col("ts")).cast("long").as("hour"))
        .agg(count(lit(1)).as("cnt"))
    },
      "SELECT hour(e.ts) AS hour, count(*) AS cnt FROM events e JOIN customer c ON e.user_id = c.c_custkey WHERE c.c_acctbal BETWEEN 0.0 AND 4000.0 AND c.c_nationkey BETWEEN 0 AND 24 GROUP BY hour(e.ts)"),

    Q("q12_join_interval", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      TrafficOps.intervalJoin(li, o, "l_orderkey", "o_orderkey",
          li("l_shipdate"), o("o_orderdate"), date_add(o("o_orderdate"), 90))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), avg(col("l_quantity")).as("avg_qty"))
    },
      "SELECT o.o_orderstatus, count(*) AS cnt, avg(l.l_quantity) AS avg_qty FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY GROUP BY o.o_orderstatus"),

    Q("q13_join_or_union", (s, d) =>
      TrafficOps.disjunctiveKeyJoin(
        Tables.events(s, d),
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey")),
        "user_id", "c_custkey", "c_nationkey",
        Seq("event_id", "c_custkey")),
      "SELECT DISTINCT e.event_id, c.c_custkey FROM events e JOIN customer c ON e.user_id = c.c_custkey OR e.user_id = c.c_nationkey"),

    // JN2's skew-band scale variant, oracle-checked end to end: same
    // semantics as q12 (GraftProps proves band ≡ residual in general;
    // this pins it against the DuckDB oracle on the real tables), but
    // the join shuffles on (orderkey, 90-day time band) — the shape
    // that spreads a hot key's rows across its bands at 100 TB. Band =
    // the interval length, so each order explodes to ~2 band rows.
    Q("q105_interval_band", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      TrafficOps.intervalJoinBanded(li, o, "l_orderkey", "o_orderkey",
          li("l_shipdate"), o("o_orderdate"), date_add(o("o_orderdate"), 90),
          bandSec = 90L * 86400)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), avg(col("l_quantity")).as("avg_qty"))
    },
      // q105: the banded join must produce EXACTLY the residual-form
      // answer, so its oracle is q12's SQL verbatim — the band is a
      // physical-plan device, never a semantic one
      "SELECT o.o_orderstatus, count(*) AS cnt, avg(l.l_quantity) AS avg_qty FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY GROUP BY o.o_orderstatus"),

    // ---- Partitioned slices + UNION semantics (SURVEY §2.2 S2, §2.7) ----
    Q("q14_union_months", (s, d) => {
      // The reference's per-month driver loop + UNION string
      // (`src/OverSpeedCount.scala:42-129`): here, disjoint slices of one
      // table union-ALL'd back together then aggregated — concatenation
      // semantics, no dedup (documented reference bug: bare UNION dedups).
      val ev = Tables.events(s, d)
      val slices = Seq(
        ev.filter(dayofmonth(col("ts")) <= 10),
        ev.filter(dayofmonth(col("ts")).between(11, 20)),
        ev.filter(dayofmonth(col("ts")) >= 21))
      slices.reduce(_ unionAll _)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
    },
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type"),

    Q("q15_union_distinct", (s, d) => {
      val ev = Tables.events(s, d)
      ev.filter(col("value") > 150).select(col("event_type"))
        .union(ev.filter(col("user_id") < 100).select(col("event_type")))
        .distinct()
    },
      "SELECT event_type FROM events WHERE value > 150 UNION SELECT event_type FROM events WHERE user_id < 100"),

    // ---- Cache / materialize (SURVEY §2.1 S5, S6, §2.6 A3) ----
    Q("q16_cache_reuse", (s, d) => {
      // The reference's reuse discipline: cache the filtered slice once,
      // read it from memory for every downstream aggregate
      // (`src/OverSpeedCount.scala:125` + `:133-136`).
      val slice = Tables.eventsRange(s, d,
        TimeRange("2024-01-05 00:00:00", "2024-01-25 00:00:00")).cache()
      slice.count() // A3: force materialization
      val out = slice
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), avg(col("user_id")).as("avg_uid"))
      // S6 scoped uncache: the aggregate is ≤|event_type| rows — pin it on
      // the driver (the reference's own sink shape, S4) so the cached slice
      // can be released before returning instead of leaking until destroy().
      val rows = out.collect()
      slice.unpersist(blocking = true)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },
      "SELECT event_type, count(*) AS cnt, avg(user_id) AS avg_uid FROM events WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-25 00:00:00' GROUP BY event_type"),

    // ---- Scalar functions (SURVEY §2.8) ----
    Q("q17_dateparts", (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 500)
        .select(col("event_id"),
                hour(col("ts")).cast("long").as("h"),
                dayofmonth(col("ts")).cast("long").as("dom"),
                month(col("ts")).cast("long").as("mon"),
                year(col("ts")).cast("long").as("yr")),
      "SELECT event_id, hour(ts) AS h, day(ts) AS dom, month(ts) AS mon, year(ts) AS yr FROM events WHERE event_id < 500"),

    Q("q18_try_cast", (s, d) =>
      // P5: safe numeric parse — NULL on failure + COALESCE default,
      // replacing the reference's try/catch sentinel-0
      // (`src/AccidentStatistics.scala:37-51`).
      Tables.events(s, d)
        .select(col("event_id"),
                coalesce(expr("try_cast(regexp_extract(props, '(\\\\d+)', 1) as bigint)"),
                         lit(0L)).as("k")),
      "SELECT event_id, COALESCE(TRY_CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT), 0) AS k FROM events"),

    Q("q19_strings", (s, d) =>
      Tables.customer(s, d)
        .filter(col("c_custkey") < 1000)
        .select(col("c_custkey"),
                substring(col("c_name"), 10, 9).as("digits"),
                length(col("c_name")).cast("long").as("name_len"),
                upper(col("c_mktsegment")).as("seg")),
      "SELECT c_custkey, substring(c_name, 10, 9) AS digits, CAST(length(c_name) AS BIGINT) AS name_len, upper(c_mktsegment) AS seg FROM customer WHERE c_custkey < 1000"),

    // ---- Composite pipelines (SURVEY §3.1–3.3 over testdata,
    //      FIXTURES.md §2 role mapping) ----
    Q("q20_accident_pipeline", (s, d) =>
      // §3.1: combined time-range + 2-D range filter → hourly histogram.
      TrafficOps.hourlyCount(
        Tables.eventsRange(s, d,
            TimeRange("2024-01-05 00:00:00", "2024-01-25 00:00:00"))
          .filter(col("value").between(50.0, 200.0)),
        hour(col("ts")).cast("long")),
      "SELECT CAST(hour(ts) AS BIGINT) AS time_period, count(*) AS cnt FROM events WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-25 00:00:00' AND value BETWEEN 50.0 AND 200.0 GROUP BY 1"),

    Q("q21_overspeed_pipeline", (s, d) => {
      // §3.2 full shape: fact ⋈ broadcast(bbox dim) ⋈ interval-classified
      // trips, one-pass car_type, grouped count. supplier=camera sites
      // (s_acctbal range as bbox), lineitem=observations (l_quantity as
      // speed), orders=toll trips (90-day interval from o_orderdate).
      val su = Tables.supplier(s, d)
        .filter(col("s_acctbal").between(1000.0, 8000.0))
        .select(col("s_suppkey"))
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val sited = TrafficOps.broadcastDimJoin(li, su, "l_suppkey", "s_suppkey")
      val joined = TrafficOps.intervalJoin(sited, o, "l_orderkey", "o_orderkey",
        sited("l_shipdate"), o("o_orderdate"), date_add(o("o_orderdate"), 90))
      joined
        .withColumn("car_type", TrafficOps.carType(
          when(col("o_orderstatus") === "F", 1).otherwise(2),
          when(col("l_returnflag") === "R", 1).otherwise(0),
          col("l_quantity"), 45, 40))
        .filter(col("car_type").isNotNull)
        .groupBy(dayofmonth(col("l_shipdate")).cast("long").as("time_period"),
                 col("car_type"))
        .agg(count(lit(1)).as("cnt"))
    },
      """SELECT time_period, car_type, count(*) AS cnt FROM (
        |  SELECT CAST(day(l.l_shipdate) AS BIGINT) AS time_period,
        |    CASE WHEN o.o_orderstatus =  'F' AND l.l_returnflag <> 'R' AND l.l_quantity > 45 THEN '01'
        |         WHEN o.o_orderstatus <> 'F' AND l.l_returnflag <> 'R' AND l.l_quantity > 45 THEN '02'
        |         WHEN o.o_orderstatus =  'F' AND l.l_returnflag =  'R' AND l.l_quantity > 45 THEN '03'
        |         WHEN o.o_orderstatus <> 'F' AND l.l_returnflag =  'R' AND l.l_quantity > 40 THEN '04' END AS car_type
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_acctbal BETWEEN 1000.0 AND 8000.0
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
        |) WHERE car_type IS NOT NULL GROUP BY time_period, car_type""".stripMargin),

    Q("q22_avgspeed_pipeline", (s, d) => {
      // §3.3: today-vs-trailing-window averages, UNION ALL of two tagged
      // aggregates over one cached classified slice.
      val su = Tables.supplier(s, d)
        .filter(col("s_acctbal").between(1000.0, 8000.0))
        .select(col("s_suppkey"))
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val sited = TrafficOps.broadcastDimJoin(li, su, "l_suppkey", "s_suppkey")
      val obs = TrafficOps.intervalJoin(sited, o, "l_orderkey", "o_orderkey",
          sited("l_shipdate"), o("o_orderdate"), date_add(o("o_orderdate"), 90))
        .filter(col("l_shipdate") >= lit("2000-05-16").cast("timestamp") &&
                col("l_shipdate") <  lit("2000-06-16").cast("timestamp"))
        .withColumn("car_type",
          when(col("o_orderstatus") === "F", "01").otherwise("02"))
        .select(dayofmonth(col("l_shipdate")).cast("long").as("time_period"),
                col("l_shipdate"), col("car_type"), col("l_quantity"))
        .cache()
      def agg(df: DataFrame, tp: Long) =
        df.groupBy(col("time_period"), col("car_type"))
          .agg(avg(col("l_quantity")).as("avg_speed"))
          .withColumn("time_point", lit(tp))
      val today = obs.filter(to_date(col("l_shipdate")) === lit("2000-06-15").cast("date"))
      val out = agg(today, 1L).unionAll(agg(obs, 0L))
      // S6 scoped uncache (as q16): pin the ≤(31×2×2)-row result, release
      // the cached slice before returning.
      val rows = out.collect()
      obs.unpersist(blocking = true)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },
      """WITH obs AS (
        |  SELECT CAST(day(l.l_shipdate) AS BIGINT) AS time_period, l.l_shipdate,
        |    CASE WHEN o.o_orderstatus = 'F' THEN '01' ELSE '02' END AS car_type,
        |    l.l_quantity
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_acctbal BETWEEN 1000.0 AND 8000.0
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
        |  WHERE l.l_shipdate >= TIMESTAMP '2000-05-16 00:00:00' AND l.l_shipdate < TIMESTAMP '2000-06-16 00:00:00')
        |SELECT time_period, car_type, avg(l_quantity) AS avg_speed, CAST(1 AS BIGINT) AS time_point
        |  FROM obs WHERE CAST(l_shipdate AS DATE) = DATE '2000-06-15' GROUP BY 1, 2
        |UNION ALL
        |SELECT time_period, car_type, avg(l_quantity) AS avg_speed, CAST(0 AS BIGINT) AS time_point
        |  FROM obs GROUP BY 1, 2""".stripMargin),

    // ---- Beyond the reference: windows / sort-limit / set ops
    //      (engine completeness; SURVEY §2.7 notes the reference lacks
    //      these entirely) ----
    Q("q23_window_topk", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
                 col("l_linenumber"))
      Tables.lineitem(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("l_returnflag"), col("l_orderkey"),
                col("l_extendedprice"), col("rn"))
    },
      "SELECT l_returnflag, l_orderkey, l_extendedprice, rn FROM (SELECT l_returnflag, l_orderkey, l_extendedprice, row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn FROM lineitem) WHERE rn <= 3"),

    Q("q24_topn", (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),

    Q("q25_intersect", (s, d) => {
      val ev = Tables.events(s, d)
      ev.filter(col("value") > 180).select(col("event_type"))
        .intersect(ev.filter(col("user_id") < 20).select(col("event_type")))
    },
      "SELECT event_type FROM events WHERE value > 180 INTERSECT SELECT event_type FROM events WHERE user_id < 20"),

    Q("q26_except", (s, d) => {
      val c = Tables.customer(s, d)
      c.select(col("c_mktsegment"))
        .except(c.filter(col("c_acctbal") > 2000).select(col("c_mktsegment")))
    },
      "SELECT c_mktsegment FROM customer EXCEPT SELECT c_mktsegment FROM customer WHERE c_acctbal > 2000"),
  )

  /** Every query, built once on first use: the base records, then the
    * LLM-pipeline, streaming and relational tiers.
    */
  lazy val registry: Seq[Q] =
    checked(records ++ LlmEntry.records ++ StreamEntry.records ++ RelEntry.records)

  /** Rejects a registry that names a query twice: the derived maps would
    * keep one of the two records and drop the other without a word.
    */
  private[graft] def checked(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
