package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{GraphOps, LayoutOps, ReconcileOps, SpatialOps,
  TemporalOps, TextOps}

/** Relational/temporal engine-completeness queries (q52+): as-of join,
  * bucketed range join, ROLLUP, pivot, gap sessionization, deterministic
  * hash-based train/test splitting, running-frame windows, and approximate
  * sketches. Merged into [[SparkEntry]]'s driver contract.
  *
  * The as-of and range joins are the two operators the brief singles out
  * as "operators Spark lacks" — both are implemented join-free /
  * equi-join-only (see [[TemporalOps]]) so they keep working at 100 TB.
  */
object RelEntry {

  /** STABLE per-session catalog root: the engine caches catalog
    * INSTANCES by name at first use, so re-pointing
    * `spark.sql.catalog.<n>.root` on a later invocation would leave
    * the cached instance on the old root — a query mixing catalog SQL
    * with object-API paths would then read a different table than it
    * wrote (bit ScaleBench's repeated invocations of one query in one
    * session). The root is minted ONCE per (session, catalog) and
    * every invocation reuses it; queries drop/recreate their tables
    * inside, so reruns stay hermetic.
    */
  private def catRoot(s: org.apache.spark.sql.SparkSession, cat: String,
      tag: String): String = {
    val key = s"spark.sql.catalog.$cat.root"
    s.conf.getOption(key).getOrElse {
      val w = java.nio.file.Files.createTempDirectory(tag).toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(key, w)
      w
    }
  }

  private object AqePlans extends
    org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** True when a file scan of `df`'s physical plan (looked up through
    * AQE) reads from `dir` — the proof that a rewrite targeted it,
    * taken from the scan nodes' root paths, not from the rendered plan
    * string that `spark.sql.maxPlanStringLength` truncates.
    */
  private def scansDir(df: DataFrame, dir: String): Boolean = {
    val name = new java.io.File(dir).getName
    AqePlans.collect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths
    }.flatten.exists(_.getName == name)
  }

  /** A lakehouse query's scope over catalog `cat`: `build` gets the
    * warehouse root, the result is fenced, `release` runs, `tables` are
    * dropped, and the warehouse is deleted ([[core.Materialize.owning]]).
    */
  private def lakeScope(s: SparkSession, cat: String, tag: String,
      tables: String*)(build: String => DataFrame)
      (release: => Unit = ()): DataFrame = {
    val wh = catRoot(s, cat, tag)
    core.Materialize.owning(s, wh)(build(wh)) {
      release
      tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $cat.$t"))
    }
  }


  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q172 octagon vertex directions, CCW, closed by wrap-around — the
    * single source both the Spark vertex arrays and the oracle's edge
    * VALUES derive from so the fences can never drift.
    */
  private val PipDirs = Seq((4L, 0L), (3L, 3L), (0L, 4L), (-3L, 3L),
    (-4L, 0L), (-3L, -3L), (0L, -4L), (3L, -3L))
  private val NeighborWindowSec = 300L   // ±5 min
  private val SessionGapSec = 86400L     // 1 day
  private val SessionWindowGapSec = 3600L // q104 built-in session_window gap
  private val PrIters = 3                 // q109 horizon; oracle unrolls EXACTLY this many rounds
  private val PrScale = 1000000000L       // q109 rank precision (1e9 → ~1e8-node headroom)
  /** md5-prefix threshold ≈ 0.80 of the hex space → deterministic,
    * engine-independent, stable-under-append train/test assignment. */
  private val SplitHexHi = "cc"
  // q123 resample horizon (inclusive hourly grid, 169 slots per series)
  private val ResampleLo = "2024-01-01 00:00:00"
  private val ResampleHi = "2024-01-08 00:00:00"
  private val SweepShardDays = 256L // q124 sweep-line shard span (days)
  private val SweepSubShards = 32L  // q124 rank-range sub-shards per shard
  // q129 delta seam: the "last ingest batch" — touches 64 of 150 keys
  // at sf0.01, so both the pass-through and recompute branches are real
  private val ScdSeam = "2024-01-30 18:00:00"
  // q130 histogram geometry: B·W = 1024 covers 2× the observed value
  // max (560); W = 4.0 is an exact double so bucket edges are bit-stable
  private[graft] val HistB = 256L
  private[graft] val HistW = 4.0
  // q131 skipping layout: 16 range-clustered files; the query band is
  // ~1/10 of the value range so pruning has room to show
  private val TfChunkTokens = 60  // q169 table-function chunk window
  private val TfChunkStride = 30  // q169 stride (differs from q60's 40/50)
  private val SkipFiles = 16
  private val SkipLo = 40.0
  private val SkipHi = 90.0
  // q133 as-of match-age bound (1 h): old enough that most purchases
  // keep their click, young enough that many lose it — both paths real
  private val AsofTolSec = 3600L
  // q136/q137 subquery threshold: ~1/5 of orders qualify, so both the
  // EXISTS and NOT-EXISTS sides keep real row sets
  private val SubqPriceHi = 400000.0

  /** q122's SCD2 chain over any (user_id, ts, event_id, event_type)
    * frame — shared by the full build (q122) and the incremental apply
    * (q129). One data-sized exchange; see the q122 comment.
    */
  private def scd2Build(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val versioned = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(wRun).isNull ||
             lag(col("event_type"), 1).over(wRun) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        wRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = versioned.groupBy(col("user_id"), col("version"))
      .agg(min(col("ts")).as("valid_from"),
           min(col("event_type")).as("attr"), // constant within a run
           count(lit(1)).as("n_events"))
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .withColumn("is_current", col("valid_to").isNull.cast("bigint"))
  }

  /** T37 (q130): T28's partials-as-data pattern for QUANTILES: exact
    * percentiles (T16) shuffle the full value multiset and approx
    * sketches (T8) aren't engine-portable — the incremental-pipeline
    * answer is a FIXED-WIDTH histogram per (series, day): a B-bucket
    * integer vector any engine computes identically, merged across
    * days by plain SUM-by-bucket (associative ⇒ exact re-aggregation,
    * no history rescan — merge input is |days|·B rows, not the event
    * stream). Quantile estimate = upper edge of the first bucket whose
    * cumulative count reaches the target rank; bucket selection is an
    * all-integer compare (cum·100 ≥ n·P — no float boundary).
    *
    * Error contract (ADVICE r13 corrected): what fixed-width
    * histograms guarantee BY CONSTRUCTION is est − x₍ᵣ₎ ∈ (0, W] for
    * the FLOOR ORDER STATISTIC at the target rank r = ⌈n·p/100⌉ —
    * x₍ᵣ₎ lives in the selected bucket by minimality, so the bucket's
    * upper edge overshoots it by at most one width. The previously
    * assert_true'd "≤ 2 widths vs the INTERPOLATED percentile" is NOT
    * guaranteed: interpolation reaches toward x₍ᵣ₊₁₎, which a sparse
    * histogram can place many empty buckets away (90 values at 1 + 10
    * at 500 puts p90_est at 4 vs interpolated 50.9) — a legitimate
    * distribution must not throw in-plan, so the order-stat bound is
    * enforced in EdgeCaseSpec (fixture-adversarial) instead, and the
    * exact interpolated percentiles stay REPORTED columns for the
    * consumer's own error accounting. Values beyond B·W saturate into
    * the top bucket — the documented failure mode of any fixed-range
    * summary (range here: 2× max; a saturated estimate reads B·W and
    * the order-stat bound's upper half is void there).
    */
  /** The SUM-merge + integer-compare estimate stage shared by q130
    * (day partials) and the streaming bridge q140 (hour-window partials
    * drained from T40): `partials` must carry (event_type, `partCol`,
    * bucket, cnt); returns one row per event_type with n, the
    * distinct-partial count (as `partsAlias`), and the three estimates.
    * Merge input is |parts|·B rows — never the event stream.
    */
  private[graft] def histogramEsts(partials: DataFrame, partCol: String,
                                   partsAlias: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = partials.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"),
           countDistinct(col(partCol)).as("n_parts"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("event_type"))
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("n", sum(col("cnt")).over(wt))
    def bEst(p: Int) = (min(when(col("cum") * 100 >= col("n") * p,
      col("bucket"))) + 1) * HistW
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), sum(col("n_parts")).as(partsAlias),
        bEst(50).as("p50_est"), bEst(90).as("p90_est"),
        bEst(99).as("p99_est"))
  }

  private[graft] def histogramPercentilesOn(evRaw: DataFrame): DataFrame = {
    val ev = evRaw
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value"))
    val partials = ev
      .select(col("event_type"), col("day"),
        least(lit(HistB - 1),
          floor(col("value") / HistW).cast("long")).as("bucket"))
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val ests = histogramEsts(partials, "day", "day_parts")
    val exact = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50_exact"),
           expr("percentile(value, 0.9)").as("p90_exact"),
           expr("percentile(value, 0.99)").as("p99_exact"))
    ests.join(exact, "event_type")
      .select(col("event_type"), col("n"), col("day_parts"),
        col("p50_est"), col("p90_est"), col("p99_est"),
        col("p50_exact"), col("p90_exact"), col("p99_exact"))
  }

  /** T41 (q134): per-group least squares from sufficient statistics —
    * ONE aggregate computing (n, Σx, Σy, Σxy, Σx²), slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) — the form regr_slope implements,
    * made ORACLE-BIT-EXACT the house way: x = whole seconds from a
    * fixed epoch, y = integer cents, and EVERY sufficient statistic
    * accumulates in exact 128-bit integers (DECIMAL(38,0) here,
    * HUGEINT in the mirror) — each term is cast BEFORE the sum, so the
    * partials themselves can never wrap a 64-bit accumulator (r13's
    * residual: Σx² as a BIGINT sum overflows at ~10⁵× this fixture or
    * at 1e8-scale epoch offsets, where Spark wraps silently without
    * ANSI and DuckDB widens — the engines diverged exactly where the
    * headroom claim lived; EdgeCaseSpec now pins a Long-overflowing
    * fixture). Exactness holds to 38 digits (n²·T·Y < 1e38 ⇒ n ≲ 1e13
    * at this T·Y), then ONE correctly-rounded cast to DOUBLE per
    * reported statistic / operand and single IEEE divisions —
    * bit-identical cross-engine. An in-plan cross-check pins the
    * exact-integer slope against Spark's own double-path regr_slope:
    * the bound is 1e-9 of max(|slope|, |nΣxy|+|ΣxΣy| over den) — the
    * second term is the natural magnitude of the two cancelling
    * numerator products, so a near-zero slope (y ⊥ x) cannot shrink
    * the tolerance below the double path's own error scale (ADVICE
    * r13).
    *
    * Scale shape: one map-side-combined hash aggregate — the
    * sufficient statistics ARE the shuffle payload (5 exact decimals
    * per group per task), the same partials-as-data story as T28/T37.
    */
  private[graft] def groupedRegressionOn(ev: DataFrame): DataFrame = {
    val x = expr(
      "unix_seconds(ts) - unix_seconds(TIMESTAMP '2024-01-01 00:00:00')")
    val y = expr("CAST(round(value * 100) AS BIGINT)")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // per-TERM products stay BIGINT codegen (the operator's domain bound:
    // a term x², x·y must fit 64 bits ⇒ |x| ≤ 3e9 s ≈ a 95-year span —
    // documented, EdgeCaseSpec-pinned); ONE cast wraps the long into a
    // compact DECIMAL(19,0) and only the SUM accumulates in 128-bit.
    // Summing decimal(38,0)·decimal(38,0) products instead ran the
    // per-row multiply on the BigDecimal slow path — measured 10× on
    // q135 (BenchDiff r14) for identical results.
    def dec19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    ev
      .select(col("event_type"), x.as("x"), y.as("y"),
        col("ts"), col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec19(col("x"))).as("sxd"),
        sum(dec19(col("y"))).as("syd"),
        sum(dec19(col("x") * col("y"))).as("sxyd"),
        sum(dec19(col("x") * col("x"))).as("sxxd"),
        expr("regr_slope(CAST(round(value * 100) AS BIGINT), " +
          "unix_seconds(ts) - unix_seconds(TIMESTAMP '2024-01-01 00:00:00'))")
          .as("ref_slope"))
      .withColumn("den",
        (dec(col("n")) * col("sxxd") - col("sxd") * col("sxd"))
          .cast("double"))
      .withColumn("slope",
        (dec(col("n")) * col("sxyd") - col("sxd") * col("syd"))
          .cast("double") / col("den"))
      .withColumn("intercept",
        (col("syd").cast("double") - col("slope") * col("sxd").cast("double"))
          / col("n").cast("double"))
      // cross-check tolerance: relative to the slope OR to the
      // cancelling-term magnitude (|nΣxy| + |ΣxΣy|)/den — the absolute
      // floor the double path's rounding error actually scales with
      .withColumn("tol", lit(1e-9) * greatest(abs(col("ref_slope")),
        (abs(dec(col("n")) * col("sxyd")) + abs(col("sxd") * col("syd")))
          .cast("double") / col("den")))
      .where(isnull(expr(
        "assert_true(abs(slope - ref_slope) <= tol, " +
          "'integer-exact slope diverges from regr_slope')")))
      .select(col("event_type"), col("n"),
        col("sxd").cast("double").as("sx"),
        col("syd").cast("double").as("sy"),
        col("sxyd").cast("double").as("sxy"),
        col("sxxd").cast("double").as("sxx"),
        col("slope"), col("intercept"))
  }

  /** T41b (q135): corr(x, y) from q134's sufficient statistics plus Σy²:
    * the numerator is the exact 128-bit covariance term; the
    * denominator is two CORRECTLY-ROUNDED sqrts of exact-integer
    * variances — an identical IEEE op sequence in both engines (sqrt is
    * exact per IEEE-754, unlike pow — the q102 α=½ reasoning), so even
    * the doubles face the hash compare. Same one-aggregate scale shape,
    * same cast-before-sum 128-bit partials as [[groupedRegressionOn]].
    */
  private[graft] def groupedCorrOn(ev: DataFrame): DataFrame = {
    val x = expr(
      "unix_seconds(ts) - unix_seconds(TIMESTAMP '2024-01-01 00:00:00')")
    val y = expr("CAST(round(value * 100) AS BIGINT)")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def dec19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    ev
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec19(col("x"))).as("sxd"),
        sum(dec19(col("y"))).as("syd"),
        sum(dec19(col("x") * col("y"))).as("sxyd"),
        sum(dec19(col("x") * col("x"))).as("sxxd"),
        sum(dec19(col("y") * col("y"))).as("syyd"))
      .withColumn("corr_xy",
        (dec(col("n")) * col("sxyd") - col("sxd") * col("syd"))
          .cast("double") /
        (sqrt((dec(col("n")) * col("sxxd") -
               col("sxd") * col("sxd")).cast("double")) *
         sqrt((dec(col("n")) * col("syyd") -
               col("syd") * col("syd")).cast("double"))))
      .select(col("event_type"), col("n"),
        col("syyd").cast("double").as("syy"), col("corr_xy"))
  }

  /** The (part, ship-week)-windowed supplier co-supply graph shared by
    * q159/q167/q168: DISTINCT (part, week, supplier) rows self-joined
    * on (part, week) — the window is the load-bearing sparsifier (bare
    * same-part co-supply is near-complete; see q159's comment).
    */
  private def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        date_trunc("week", col("l_shipdate")).as("w"), col("l_suppkey"))
      .distinct()
    pairs.join(
        pairs.select(col("l_partkey"), col("w"), col("l_suppkey").as("s2")),
        Seq("l_partkey", "w"))
      .filter(col("l_suppkey") < col("s2"))
      .select(col("l_suppkey").as("src"), col("s2").as("dst"))
  }

  /** The lakehouse queries' base rows: orders as (o_orderkey, o_custkey,
    * price_cents), the total price in integer cents.
    */
  private def ordersCents(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))

  private[graft] def records: Seq[Q] = Seq(
    // ---- as-of join: purchase → latest click by the same user ----------
    Q("q52_asof_join", (s, d) => {
      val e = Tables.events(s, d)
      // uniqueness contract: one click per (user_id, ts) — max(event_id)
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      TemporalOps.asofJoin(purchases, clicks, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
                col("asof_ts"), col("asof_click_id"))
    },
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
        |             FROM events WHERE event_type='click' GROUP BY 1, 2),
        |     p AS (SELECT user_id, ts, event_id
        |             FROM events WHERE event_type='purchase'),
        |     m AS (SELECT p.event_id, p.user_id, p.ts, max(c.ts) AS asof_ts
        |             FROM p LEFT JOIN c
        |               ON c.user_id = p.user_id AND c.ts <= p.ts
        |            GROUP BY 1, 2, 3)
        |SELECT m.event_id, m.user_id, m.ts, m.asof_ts,
        |       c.click_id AS asof_click_id
        |  FROM m LEFT JOIN c
        |    ON c.user_id = m.user_id AND c.ts = m.asof_ts""".stripMargin),

    // ---- as-of join with tolerance (merge_asof tolerance semantics) -----
    Q("q133_asof_tolerance", (s, d) => {
      // T1 with a match-age bound — pandas merge_asof(tolerance=...):
      // a click older than AsofTolSec before the purchase no longer
      // attributes (stale-quote semantics in market data, stale-touch
      // in attribution). Same join-free plan as q52 (union + one window
      // on the key); the tolerance is a post-window projection, so the
      // shuffle story is unchanged and the operator stays 100-TB-safe.
      val e = Tables.events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      TemporalOps.asofJoin(purchases, clicks, "user_id", "ts",
          toleranceSec = Some(AsofTolSec))
        .select(col("event_id"), col("user_id"), col("ts"),
                col("asof_ts"), col("asof_click_id"))
    },
      // q133 mirror: q52's shape with the age bound inside the LEFT JOIN
      // condition — too-old matches fall to NULL, never to a dropped row
      s"""WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
         |             FROM events WHERE event_type='click' GROUP BY 1, 2),
         |     p AS (SELECT user_id, ts, event_id
         |             FROM events WHERE event_type='purchase'),
         |     m AS (SELECT p.event_id, p.user_id, p.ts, max(c.ts) AS asof_ts
         |             FROM p LEFT JOIN c
         |               ON c.user_id = p.user_id AND c.ts <= p.ts
         |              AND c.ts >= p.ts - INTERVAL $AsofTolSec SECOND
         |            GROUP BY 1, 2, 3)
         |SELECT m.event_id, m.user_id, m.ts, m.asof_ts,
         |       c.click_id AS asof_click_id
         |  FROM m LEFT JOIN c
         |    ON c.user_id = m.user_id AND c.ts = m.asof_ts""".stripMargin),

    // ---- bucketed range self-join: events within ±5 min ----------------
    Q("q53_range_join", (s, d) =>
      TemporalOps.neighborCounts(Tables.events(s, d), "event_id", "ts",
        NeighborWindowSec),
      """SELECT a.event_id, count(*) AS n_neighbors
        |  FROM events a JOIN events b
        |    ON b.ts BETWEEN a.ts - INTERVAL 5 MINUTE
        |               AND a.ts + INTERVAL 5 MINUTE
        |   AND b.event_id <> a.event_id
        | GROUP BY 1""".stripMargin),

    // ---- ROLLUP: hierarchical totals in one pass -----------------------
    Q("q54_rollup", (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("bigint")).as("sum_qty"),
             count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       count(*) AS n
        |  FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    // ---- cube: full grouping lattice + grouping markers ----------------
    // Completes the ROLLUP (q54) / GROUPING SETS (q67) family. The
    // grouping()/grouping_id() markers disambiguate "NULL because
    // subtotal" from "NULL in the data" — the reason the lattice shapes
    // are usable at all downstream. Spark and DuckDB agree on the bit
    // order (first cube column = most significant bit); both are cast to
    // BIGINT (Spark's grouping() is a TINYINT, DuckDB's a BIGINT).
    Q("q80_cube", (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("bigint")).as("sum_qty"),
             count(lit(1)).as("n"),
             grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
             grouping(col("l_linestatus")).cast("bigint").as("g_status"),
             grouping_id().cast("bigint").as("gid")),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       count(*) AS n,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |  FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),

    // ---- pivot: event_type histogram as columns ------------------------
    Q("q55_pivot", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", EventTypes)  // explicit values: no extra
        .agg(count(lit(1)))               //   distinct-scan job
        .na.fill(0L, EventTypes),
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click')    AS click,
        |       count(*) FILTER (WHERE event_type = 'error')    AS error,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        |       count(*) FILTER (WHERE event_type = 'view')     AS view
        |  FROM events GROUP BY user_id""".stripMargin),

    // ---- gap sessionization (batch twin of q45) ------------------------
    Q("q56_sessionize", (s, d) => {
      val sess = TemporalOps.sessionize(Tables.events(s, d),
        "user_id", "ts", "event_id", SessionGapSec)
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
             max(col("n")).as("max_session_events"),
             sum(col("n")).as("n_events"))
    },
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 1 DAY
        |              THEN 1 ELSE 0 END AS new_s
        |    FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |    FROM t),
        |sess AS (SELECT user_id, sid, count(*) AS n FROM g GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |       max(n) AS max_session_events,
        |       CAST(sum(n) AS BIGINT) AS n_events
        |  FROM sess GROUP BY 1""".stripMargin),

    // ---- deterministic hash split: the train/test seam every training
    //      pipeline needs — stable under appends, no RNG, no state --------
    Q("q57_hash_split", (s, d) =>
      Tables.documents(s, d)
        .withColumn("split",
          when(substring(md5(col("doc_id").cast("string").cast("binary")),
            1, 2) < SplitHexHi, "train").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("doc_id")).as("min_id"),
             max(col("doc_id")).as("max_id")),
      s"""SELECT lang,
         |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
         |                 < '$SplitHexHi'
         |            THEN 'train' ELSE 'test' END AS split,
         |       count(*) AS n_docs, min(doc_id) AS min_id,
         |       max(doc_id) AS max_id
         |  FROM documents GROUP BY 1, 2""".stripMargin),

    // ---- running-frame window: cumulative sum + lead -------------------
    Q("q58_running_total", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      Tables.lineitem(s, d).filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("bigint"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("run_qty"),
          lead(col("l_linenumber"), 1).over(w).as("next_line"))
    },
      """SELECT l_orderkey, l_linenumber,
        |       CAST(sum(CAST(l_quantity AS BIGINT))
        |         OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_qty,
        |       lead(l_linenumber, 1)
        |         OVER (PARTITION BY l_orderkey ORDER BY l_linenumber)
        |         AS next_line
        |  FROM lineitem WHERE l_orderkey < 1000""".stripMargin),

    // ---- collection aggregation: collect_set → sort → join -------------
    // Array results are rendered to strings (array_join) so the oracle
    // compare is representation-independent; collect_set order is
    // nondeterministic, so array_sort is mandatory before joining.
    Q("q63_collect_agg", (s, d) =>
      Tables.events(s, d)
        .groupBy((col("user_id") % 20).as("user_bucket"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
               .as("types_seen"),
             countDistinct(col("event_type")).as("n_types"),
             max(col("value")).as("max_value")),
      """SELECT CAST(user_id % 20 AS BIGINT) AS user_bucket,
        |       string_agg(DISTINCT event_type, ',' ORDER BY event_type)
        |         AS types_seen,
        |       count(DISTINCT event_type) AS n_types,
        |       max(value) AS max_value
        |  FROM events GROUP BY 1""".stripMargin),

    // ---- date/time scalar functions over order dates -------------------
    Q("q64_date_math", (s, d) =>
      Tables.orders(s, d).filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("order_month"),
          last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
          datediff(lit("1998-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_98"),
          date_add(col("o_orderdate").cast("date"), 30).cast("timestamp")
            .as("due_date"),
          quarter(col("o_orderdate")).cast("long").as("qtr")),
      """SELECT o_orderkey,
        |       date_trunc('month', o_orderdate) AS order_month,
        |       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
        |         AS month_end,
        |       CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |                      DATE '1998-01-01') AS BIGINT) AS days_to_98,
        |       CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS due_date,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS qtr
        |  FROM orders WHERE o_orderkey < 500""".stripMargin),

    // ---- keep-latest compaction (CDC/upsert apply) ---------------------
    // One surviving row per (user_id, event_type): the latest by ts
    // (event_id breaks ties). row_number + rn=1 plans with map-side
    // WindowGroupLimit, so each partition forwards only its per-key
    // leader — the merge-on-read compaction every incremental pipeline
    // runs, expressed declaratively.
    Q("q65_keep_latest", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("latest_event_id"),
          col("ts").as("latest_ts"),
          col("value").as("latest_value"))
    },
      """SELECT user_id, event_type, event_id AS latest_event_id,
        |       ts AS latest_ts, value AS latest_value
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY user_id, event_type
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |          FROM events)
        | WHERE rn = 1""".stripMargin),

    // ---- explicit GROUPING SETS (beyond ROLLUP's prefix lattice) -------
    // SQL surface via the temp-view catalog (S7) — the one grouping shape
    // the DataFrame API lacks a direct method for.
    Q("q67_grouping_sets", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT event_type, user_bucket, count(*) AS cnt
              |FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT)
              |        AS user_bucket FROM events_v)
              |GROUP BY GROUPING SETS ((event_type), (user_bucket))"""
        .stripMargin)
    },
      """SELECT event_type, user_bucket, count(*) AS cnt
        |FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT)
        |        AS user_bucket FROM events)
        |GROUP BY GROUPING SETS ((event_type), (user_bucket))""".stripMargin),

    // ---- statistical aggregates ----------------------------------------
    // stddev/var over the integer-valued quantity: the moment sums are
    // exact in double, so both engines produce bit-identical results.
    // corr/covar over non-integral columns differ in the last ulp across
    // engines (different accumulation orders) — excluded from the oracle
    // surface on purpose; see skewness/kurtosis note in SURVEY §2.6.
    Q("q68_stats_agg", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(stddev_samp(col("l_quantity")).as("sd_qty"),
             var_samp(col("l_quantity")).as("var_qty"),
             avg(col("l_quantity")).as("avg_qty"),
             count(lit(1)).as("n")),
      """SELECT l_returnflag,
        |       stddev_samp(l_quantity) AS sd_qty,
        |       var_samp(l_quantity) AS var_qty,
        |       avg(l_quantity) AS avg_qty,
        |       count(*) AS n
        |  FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // ---- exact percentiles (interpolating) -----------------------------
    // Over the integer-valued quantity the interpolation operands are
    // exact doubles, so both engines compute identical results (the
    // approximate twin is q59; exact percentile shuffles the full value
    // multiset per group — use the sketch at 100 TB unless exactness is
    // contractual).
    Q("q69_percentile", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
             expr("percentile(l_quantity, 0.5)").as("p50"),
             expr("percentile(l_quantity, 0.9)").as("p90")),
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.9) AS p90
        |  FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // ---- rank-family window functions ----------------------------------
    Q("q70_window_ranks", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).cast("long").as("quartile"))
    },
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       percent_rank() OVER w AS prnk,
        |       cume_dist() OVER w AS cd,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |  FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin),

    // ---- outer-join family: full outer with side classification --------
    // (inner/semi joins are exercised throughout; this is the NULL-side
    // surface: unmatched rows from both inputs survive and classify)
    Q("q72_join_types", (s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"))
      val e = Tables.events(s, d).select(col("user_id")).distinct()
      c.join(e, col("c_custkey") === col("user_id"), "full_outer")
        .select(when(col("c_custkey").isNull, "event_only")
          .when(col("user_id").isNull, "customer_only")
          .otherwise("both").as("side"))
        .groupBy(col("side")).agg(count(lit(1)).as("n"))
    },
      """SELECT CASE WHEN c.c_custkey IS NULL THEN 'event_only'
        |            WHEN e.user_id IS NULL THEN 'customer_only'
        |            ELSE 'both' END AS side,
        |       count(*) AS n
        |  FROM customer c
        |  FULL OUTER JOIN (SELECT DISTINCT user_id FROM events) e
        |    ON e.user_id = c.c_custkey
        | GROUP BY 1""".stripMargin),

    // ---- cohort retention ----------------------------------------------
    // cohort = week of a user's first event, activity bucketed by day;
    // one row per (cohort, activity day) with distinct active users —
    // the standard retention triangle. Two shuffles on user_id, one on
    // the pair. (Day/week granularity because the events table spans one
    // month; swap the truncs for month-over-month retention.)
    Q("q73_cohort_retention", (s, d) => {
      val e = Tables.events(s, d)
      val first = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort"))
      val act = e.select(col("user_id"),
        date_trunc("day", col("ts")).as("act_day")).distinct()
      act.join(first, "user_id")
        .groupBy(col("cohort"), col("act_day"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
      """WITH f AS (SELECT user_id,
        |             CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
        |               AS cohort
        |             FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |        CAST(date_trunc('day', ts) AS TIMESTAMP) AS act_day
        |        FROM events)
        |SELECT f.cohort, a.act_day, count(DISTINCT a.user_id) AS n_users
        |  FROM a JOIN f ON f.user_id = a.user_id
        | GROUP BY 1, 2""".stripMargin),

    // ---- value histogram (fixed-width buckets) -------------------------
    // floor-division bucketing (identical arithmetic cross-engine;
    // Spark's width_bucket has no DuckDB twin), clamped into [0, 10].
    Q("q74_histogram", (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          least(greatest(floor(col("value") / 25.0), lit(0.0)), lit(10.0))
            .cast("long").as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n")),
      """SELECT event_type,
        |       CAST(least(greatest(floor(value / 25.0), 0.0), 10.0)
        |            AS BIGINT) AS bucket,
        |       count(*) AS n
        |  FROM events GROUP BY 1, 2""".stripMargin),

    // ---- conversion funnel ---------------------------------------------
    // Ordered-stage funnel (view → click ≥ view's ts → purchase ≥
    // click's ts): per-stage min-ts tables joined forward, counts
    // unioned as rows (no single-row cross join).
    Q("q75_funnel", (s, d) => {
      val e = Tables.events(s, d)
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") >= col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") >= col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"))
      v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
        .unionAll(c.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionAll(p.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
    },
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |        JOIN v ON v.user_id = e.user_id AND e.ts >= v.t_view
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_buy FROM events e
        |        JOIN c ON c.user_id = e.user_id AND e.ts >= c.t_click
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p""".stripMargin),

    // ---- MapType end-to-end (SURVEY §2.8 map-function family) ----------
    // per-user event_type→count map built from grouped counts
    // (map_from_entries over collect_list — key set is unique so the
    // nondeterministic list order cannot change the map), extracted back
    // to scalars for a representation-independent compare.
    Q("q78_map_funcs", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(
          collect_list(struct(col("event_type"), col("cnt")))).as("m"))
        .select(col("user_id"),
          element_at(col("m"), "click").as("clicks"),
          element_at(col("m"), "purchase").as("purchases"),
          size(col("m")).cast("long").as("n_keys")),
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |             FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, MAP(list(event_type), list(cnt)) AS m
        |        FROM c GROUP BY 1)
        |SELECT user_id,
        |       map_extract(m, 'click')[1] AS clicks,
        |       map_extract(m, 'purchase')[1] AS purchases,
        |       CAST(cardinality(m) AS BIGINT) AS n_keys
        |  FROM m""".stripMargin),

    // ---- native k-bounded top-k aggregate ------------------------------
    // Same semantics as q23's window top-k, but via the custom
    // TypedImperativeAggregate `top_k_ids` (functions/TopKIds): per-group
    // state is exactly k triples, partials merge k-bounded, so the
    // shuffle carries ≤ k·|groups| rows instead of every group member.
    Q("q66_topk_agg", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr(
          "array_join(transform(top_k_ids(l_extendedprice, l_orderkey, " +
            "CAST(l_linenumber AS BIGINT), 3), x -> CAST(x AS STRING)), ',')")
          .as("top_ids")),
      """SELECT l_returnflag,
        |       string_agg(CAST(l_orderkey AS VARCHAR), ',' ORDER BY rn)
        |         AS top_ids
        |  FROM (SELECT l_returnflag, l_orderkey, row_number() OVER (
        |          PARTITION BY l_returnflag
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |          AS rn
        |          FROM lineitem)
        | WHERE rn <= 3 GROUP BY 1""".stripMargin),

    // ---- approximate sketches: HLL++ distinct + GK-quantile ------------
    // Sketch ESTIMATES are engine-specific (HLL++ vs DuckDB's sketch
    // families give different numbers), so the raw estimates can't be
    // hash-compared — but the CLAIM a sketch makes is checkable: the
    // estimate lies within the family's error bound of the exact answer.
    // This query computes both sketches next to their exact twins,
    // ENFORCES the bounds in-plan (assert_true, the q100 pattern: the
    // isnull(..) filter survives optimization and raises instead of
    // letting an out-of-bound sketch produce a green-looking row), and
    // projects the exact columns plus the bound verdicts — all
    // deterministic, so the DuckDB oracle checks every cell and the
    // round artifact carries no null row for q59 (VERDICT r10 missing-3).
    // Bounds: HLL++ at rsd=0.01 — 5% relative + 2 absolute is 5σ, and
    // HLL is deterministic for fixed data, so green is stable per sf.
    // The GK median is verified by RANK, not by exact percentiles: pass
    // 1 computes the sketches (fixed-size HLL registers + a compressed
    // GK summary per group — hash aggregates, no value buffering), pass
    // 2 joins the ≤|event_type|-row sketch frame back BROADCAST and
    // counts how many values sit at or below the estimate; GK at
    // accuracy 10000 guarantees that fraction lands in [0.5−1e-4,
    // 0.5+1e-4]+tie-mass, asserted against a generous [0.45, 0.55].
    // Two linear scans, zero sort-based aggregates: an exact
    // `percentile()` twin measured 5.5 s at sf0.1 (it buffers every
    // value per group — at 100 TB a per-group full sort) where this
    // shape runs with the plain-agg family.
    Q("q59_sketches", (s, d) => {
      val ev = Tables.events(s, d)
      val sk = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
             percentile_approx(col("value"), lit(0.5), lit(10000))
               .as("p50_approx"))
      ev.join(broadcast(sk), "event_type")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
             count(lit(1)).as("n"),
             first(col("approx_users")).as("approx_users"),
             count(when(col("value") <= col("p50_approx"), 1))
               .as("n_at_or_below"))
        .where(isnull(expr(
          "assert_true(abs(approx_users - exact_users) <= " +
            "greatest(0.05 * exact_users, 2), " +
            "'HLL++ estimate outside its error bound')")) &&
          isnull(expr(
            "assert_true(n_at_or_below >= 0.45 * n AND " +
              "n_at_or_below <= 0.55 * n, " +
              "'GK median rank outside the 45th..55th percentile band')")))
        .select(col("event_type"), col("exact_users"), col("n"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * 0.05, lit(2.0)))
            .cast("int").as("hll_ok"),
          (col("n_at_or_below") >= col("n") * 0.45 &&
            col("n_at_or_below") <= col("n") * 0.55)
            .cast("int").as("p50_ok"))
    },
      // q59_sketches: the raw sketch estimates are implementation-defined
      // (HLL++ vs DuckDB's families differ), so the oracle checks the
      // EXACT columns plus literal-true bound verdicts; the Spark side
      // enforces those bounds in-plan via assert_true, making "1" the only
      // value hll_ok/p50_ok can reach the sink with.
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       count(*) AS n,
        |       1 AS hll_ok,
        |       1 AS p50_ok
        |  FROM events GROUP BY 1""".stripMargin),

    // ---- window navigation family (§2.7 completeness) ------------------
    // first/nth/lag plus the IGNORE-NULLS running "most recent purchase"
    // — the navigation functions a sessionized event feed needs. The
    // ROWS frame is explicit and the (ts, event_id) order total, so
    // every value is deterministic; one Window node, one exchange.
    Q("q86_window_nav", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        lag(col("value"), 1, -1.0).over(wo).as("prev_v"),
        first(col("event_type")).over(w).as("first_et"),
        nth_value(col("event_type"), 2).over(w).as("second_et"),
        last(when(col("event_type") === "purchase", col("ts")),
          ignoreNulls = true).over(w).as("last_purchase_ts"))
    },
      """SELECT user_id, event_id,
        |  lag(value, 1, -1.0) OVER wo AS prev_v,
        |  first_value(event_type) OVER w AS first_et,
        |  nth_value(event_type, 2) OVER w AS second_et,
        |  last_value(CASE WHEN event_type = 'purchase' THEN ts END
        |    IGNORE NULLS) OVER w AS last_purchase_ts
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING),
        |       wo AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // ---- conditional / argmax aggregates (§2.6 completeness) -----------
    // count_if / bool_or / bool_and / max_by / min_by — the modern
    // conditional-aggregate surface; ties are impossible (event_id is
    // unique) so max_by/min_by are deterministic.
    Q("q87_conditional_aggs", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("count_if(value > 100)").as("n_big"),
          expr("bool_or(value > 200)").as("any_huge"),
          expr("bool_and(value >= 0)").as("all_pos"),
          expr("max_by(user_id, event_id)").as("latest_user"),
          expr("min_by(user_id, event_id)").as("first_user")),
      """SELECT event_type, count(*) AS n,
        |  count(*) FILTER (WHERE value > 100) AS n_big,
        |  bool_or(value > 200) AS any_huge,
        |  bool_and(value >= 0) AS all_pos,
        |  max_by(user_id, event_id) AS latest_user,
        |  min_by(user_id, event_id) AS first_user
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- z-order layout (multi-dimensional data skipping) --------------
    Q("q91_zorder", (s, d) => {
      // Morton z-value per event over (user_id, value): dimension ranges
      // come from one global min/max pass that rides along as a
      // broadcast scalar row (how Delta's OPTIMIZE ZORDER derives its
      // cube), then the z is pure integer DIV/MOD interleave — oracle
      // checks the arithmetic bit-exactly; ZorderLayoutSpec proves the
      // LAYOUT property this value buys (a range-partition on z keeps
      // every partition's box tight in BOTH dims, so 2-D predicates
      // prune files where any 1-D sort scans everything).
      val ev = Tables.events(s, d)
      val r = ev.agg(min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
        min(col("value")).as("vlo"), max(col("value")).as("vhi"))
      ev.crossJoin(broadcast(r))
        .select(col("event_id"),
          expr(LayoutOps.cellSpark("user_id", "ulo", "uhi", ZBits)).as("cx"),
          expr(LayoutOps.cellSpark("value", "vlo", "vhi", ZBits)).as("cy"))
        .select(col("event_id"), col("cx"), col("cy"),
          expr(LayoutOps.interleaveSpark("cx", "cy", ZBits)).as("z"))
    },
      s"""WITH r AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
         |                  min(value) AS vlo, max(value) AS vhi
         |           FROM events),
         |cells AS (
         |  SELECT event_id,
         |    ${LayoutOps.cellDuck("user_id", "ulo", "uhi", ZBits)} AS cx,
         |    ${LayoutOps.cellDuck("value", "vlo", "vhi", ZBits)} AS cy
         |  FROM events, r)
         |SELECT event_id, cx, cy,
         |  ${LayoutOps.interleaveDuck("cx", "cy", ZBits)} AS z
         |FROM cells""".stripMargin),

    // ---- T25: fuzzy-key join (edit-distance band + verify) -------------
    Q("q108_fuzzy_join", (s, d) =>
      // Entity-resolution candidate pairs over customer names: every
      // DISTINCT name pair within Levenshtein distance 1, via
      // deletion-neighborhood banding (complete for d = 1) + exact
      // levenshtein verify — the band-then-verify shape of q34-q36,
      // applied to string keys instead of shingle sets. See
      // DedupOps.editPairs for the completeness argument and the
      // 100-TB shuffle story.
      operators.DedupOps.editPairs(Tables.customer(s, d),
        "c_custkey", "c_name"),
      // q108 mirror: same deletion-neighborhood band (unnest(range) in
      // place of transform(sequence)) and the same levenshtein verify;
      // min(key) per name pair keeps both engines deterministic even if
      // a name were duplicated
      """WITH keys AS (
        |  SELECT c_custkey AS key_id, c_name AS name FROM customer),
        |deln AS (
        |  SELECT key_id, name, unnest(range(0, length(name) + 1)) AS i
        |  FROM keys),
        |vars AS (
        |  SELECT key_id, name,
        |         CASE WHEN i = 0 THEN name
        |              ELSE substr(name, 1, i - 1) || substr(name, i + 1)
        |         END AS v
        |  FROM deln)
        |SELECT min(a.key_id) AS key_a, a.name AS name_a,
        |       min(b.key_id) AS key_b, b.name AS name_b
        |FROM vars a JOIN vars b ON a.v = b.v AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 1
        |GROUP BY a.name, b.name""".stripMargin),

    // ---- T28: sketch re-aggregation (partials as data) -----------------
    Q("q112_sketch_reagg", (s, d) => {
      // The incremental-pipeline pattern T8/q59 only hints at: sketches
      // are MERGEABLE STATE, not just estimates. Per (event_type, day)
      // this builds a Datasketches HLL of user_id — the fixed-size
      // partial a 100-TB pipeline persists per partition/day — then
      // re-aggregates across days with hll_union_agg and estimates,
      // WITHOUT rescanning history: the union input is |days| sketches
      // of a few KB, not the event stream. sum_day_users rides along as
      // the naive alternative (summing per-day distincts overcounts
      // returning users — the exact reason mergeable sketches exist).
      // Correctness contract is the q59 pattern: the merged estimate is
      // asserted against the exact twin IN-PLAN (assert_true raises
      // instead of producing a green-looking row) and only exact,
      // engine-independent columns reach the oracle.
      val ev = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
             countDistinct(col("user_id")).as("day_users"))
      val merged = daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"),
             count(lit(1)).as("n_days"),
             sum(col("day_users")).as("sum_day_users"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      merged.join(exact, "event_type")
        .where(isnull(expr(
          "assert_true(abs(est - exact_users) <= " +
            "greatest(0.05 * exact_users, 2), " +
            "'merged HLL estimate outside its error bound')")))
        .select(col("event_type"), col("exact_users"), col("n_days"),
          col("sum_day_users"),
          (abs(col("est") - col("exact_users")) <=
            greatest(col("exact_users") * 0.05, lit(2.0)))
            .cast("int").as("merge_ok"))
    },
      // q112 mirror: the sketch columns never cross engines — only the
      // exact twins do; merge_ok is the in-plan-asserted verdict (q59
      // pattern), so a failed bound raises in Spark rather than
      // hash-mismatching here
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         count(DISTINCT user_id) AS day_users
        |  FROM events GROUP BY 1, 2),
        |exact AS (
        |  SELECT event_type, count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, e.exact_users, count(*) AS n_days,
        |       CAST(sum(day_users) AS BIGINT) AS sum_day_users,
        |       1 AS merge_ok
        |FROM daily d JOIN exact e USING (event_type)
        |GROUP BY d.event_type, e.exact_users""".stripMargin),

    // ---- T27: record linkage: rarity-weighted match scoring ------------
    Q("q111_record_linkage", (s, d) => {
      // Fellegi-Sunter-flavored scoring over q108's fuzzy-name candidate
      // pairs: each side field that AGREES contributes the surprisal of
      // the shared value — w(v) = floor(log2(N / cnt(v))) whole bits
      // (the q101/q106 length(bin(x))−1 trick; floor(log2(N DIV cnt)) =
      // floor(log2(N/cnt)) because an integer floor never crosses the
      // power-of-two below) — so agreeing on a RARE nation/segment/
      // balance-band is strong evidence and agreeing on a common one is
      // weak, exactly the u-probability intuition. The band is the one
      // non-integer input: floor(acctbal/1000) is two correctly-rounded
      // IEEE ops, identical in any engine.
      //
      // Scale: the candidate set comes from the deletion band (never
      // all-pairs); the three weight tables are |distinct values| rows
      // (≤ nations/segments/prefixes — dimension-sized, broadcast); the
      // two attribute joins are key equi-joins that shuffle-balance
      // with the data; N is the usual broadcast scalar.
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("key"), col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("band"))
      val nAll = cust.agg(count(lit(1)).as("n_all"))
      def wtab(c: String, w: String) = cust
        .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(nAll))
        .select(col(c), expr("CAST(length(bin(n_all DIV cnt)) - 1 AS BIGINT)").as(w))
      val a = cust.select(col("key").as("key_a"), col("nat").as("nat_a"),
        col("seg").as("seg_a"), col("band").as("band_a"))
      val b = cust.select(col("key").as("key_b"), col("nat").as("nat_b"),
        col("seg").as("seg_b"), col("band").as("band_b"))
      operators.DedupOps.editPairs(Tables.customer(s, d), "c_custkey", "c_name")
        .join(a, Seq("key_a")).join(b, Seq("key_b"))
        .join(wtab("nat", "w_nat").withColumnRenamed("nat", "nat_a"), Seq("nat_a"))
        .join(wtab("seg", "w_seg").withColumnRenamed("seg", "seg_a"), Seq("seg_a"))
        .join(wtab("band", "w_band").withColumnRenamed("band", "band_a"), Seq("band_a"))
        .select(col("key_a"), col("name_a"), col("key_b"), col("name_b"),
          (col("nat_a") === col("nat_b")).cast("long").as("nat_agree"),
          (col("seg_a") === col("seg_b")).cast("long").as("seg_agree"),
          (col("band_a") === col("band_b")).cast("long").as("band_agree"),
          (when(col("nat_a") === col("nat_b"), col("w_nat")).otherwise(0L) +
           when(col("seg_a") === col("seg_b"), col("w_seg")).otherwise(0L) +
           when(col("band_a") === col("band_b"), col("w_band")).otherwise(0L))
            .as("score"))
    },
      // q111 mirror: the q108 deletion band verbatim as the candidate CTE,
      // then the same whole-bit rarity weights (format('{:b}', …) ≡ bin,
      // // ≡ DIV) joined on the a-side value and scored only on agreement
      """WITH keys AS (
        |  SELECT c_custkey AS key_id, c_name AS name FROM customer),
        |deln AS (
        |  SELECT key_id, name, unnest(range(0, length(name) + 1)) AS i
        |  FROM keys),
        |vars AS (
        |  SELECT key_id, name,
        |         CASE WHEN i = 0 THEN name
        |              ELSE substr(name, 1, i - 1) || substr(name, i + 1)
        |         END AS v
        |  FROM deln),
        |cand AS (
        |  SELECT min(a.key_id) AS key_a, a.name AS name_a,
        |         min(b.key_id) AS key_b, b.name AS name_b
        |  FROM vars a JOIN vars b ON a.v = b.v AND a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 1
        |  GROUP BY a.name, b.name),
        |cust AS (
        |  SELECT c_custkey AS key, c_nationkey AS nat, c_mktsegment AS seg,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
        |  FROM customer),
        |n AS (SELECT count(*) AS n_all FROM cust),
        |wnat AS (
        |  SELECT nat, CAST(length(format('{:b}', n_all // cnt)) - 1 AS BIGINT) AS w_nat
        |  FROM (SELECT nat, count(*) AS cnt FROM cust GROUP BY 1), n),
        |wseg AS (
        |  SELECT seg, CAST(length(format('{:b}', n_all // cnt)) - 1 AS BIGINT) AS w_seg
        |  FROM (SELECT seg, count(*) AS cnt FROM cust GROUP BY 1), n),
        |wband AS (
        |  SELECT band, CAST(length(format('{:b}', n_all // cnt)) - 1 AS BIGINT) AS w_band
        |  FROM (SELECT band, count(*) AS cnt FROM cust GROUP BY 1), n)
        |SELECT c.key_a, c.name_a, c.key_b, c.name_b,
        |  CAST(a.nat = b.nat AS BIGINT) AS nat_agree,
        |  CAST(a.seg = b.seg AS BIGINT) AS seg_agree,
        |  CAST(a.band = b.band AS BIGINT) AS band_agree,
        |  (CASE WHEN a.nat = b.nat THEN wn.w_nat ELSE 0 END
        |   + CASE WHEN a.seg = b.seg THEN ws.w_seg ELSE 0 END
        |   + CASE WHEN a.band = b.band THEN wb.w_band ELSE 0 END) AS score
        |FROM cand c
        |JOIN cust a ON a.key = c.key_a
        |JOIN cust b ON b.key = c.key_b
        |JOIN wnat wn ON wn.nat = a.nat
        |JOIN wseg ws ON ws.seg = a.seg
        |JOIN wband wb ON wb.band = a.band""".stripMargin),

    // ---- T26: iterative graph centrality (integer PageRank) ------------
    Q("q109_pagerank", (s, d) => {
      // Centrality over the customer-supplier trade graph: one edge per
      // distinct (customer, supplier) pair that ever traded (orders ⋈
      // lineitem), symmetrized so rank flows both ways and no node
      // dangles. Node ids are parity-namespaced (customer → 2k,
      // supplier → 2k+1) so the two key spaces can share one BIGINT
      // column without collision. Fixed 3-iteration horizon + scaled
      // integer arithmetic = bit-exact vs the oracle's unrolled CTEs.
      val pairs = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      GraphOps.integerPageRank(sym, PrIters, PrScale)
        .select(
          when(col("id") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("id DIV 2").as("node_key"),
          col("pr"))
    },
      // q109 mirror: the fixed iteration horizon is what makes PageRank
      // SQL-expressible — each round is one CTE pair (contribution sums,
      // then damped update over the full node universe). Integer floor
      // division (// here, DIV in Spark) keeps every rank a BIGINT.
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT id, CAST($PrScale AS BIGINT) AS pr FROM deg),
         |s1 AS (SELECT e.dst AS id, sum(r.pr // d.deg) AS s
         |       FROM r0 r JOIN deg d ON d.id = r.id
         |       JOIN edges e ON e.src = r.id GROUP BY e.dst),
         |r1 AS (SELECT d.id, CAST(${15L * PrScale / 100L} + (85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM deg d LEFT JOIN s1 ON s1.id = d.id),
         |s2 AS (SELECT e.dst AS id, sum(r.pr // d.deg) AS s
         |       FROM r1 r JOIN deg d ON d.id = r.id
         |       JOIN edges e ON e.src = r.id GROUP BY e.dst),
         |r2 AS (SELECT d.id, CAST(${15L * PrScale / 100L} + (85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM deg d LEFT JOIN s2 ON s2.id = d.id),
         |s3 AS (SELECT e.dst AS id, sum(r.pr // d.deg) AS s
         |       FROM r2 r JOIN deg d ON d.id = r.id
         |       JOIN edges e ON e.src = r.id GROUP BY e.dst),
         |r3 AS (SELECT d.id, CAST(${15L * PrScale / 100L} + (85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM deg d LEFT JOIN s3 ON s3.id = d.id)
         |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
         |       id // 2 AS node_key, pr
         |FROM r3""".stripMargin),

    Q("q104_session_window", (s, d) =>
      // The BUILT-IN gap-sessionization operator (Spark's
      // session_window), completing the tier: q56 hand-rolls the
      // islands form, q45 holds custom streaming state — this is the
      // one-liner Spark answer, and in streaming it gets state merging
      // for free (proven: StreamingSpec runs this same aggregation as a
      // watermarked stream — sessions merge across micro-batches and
      // the bounded drain equals this batch result, via
      // EventStreams.sessionWindowCounts). Semantics divergence worth
      // pinning against the
      // oracle: session_window starts a NEW session at ts − prev ≥ gap
      // (q56's hand-rolled rule is strictly >), and window.end = last
      // event + gap. One shuffle on user_id; per-group state is the
      // open session only.
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), s"$SessionWindowGapSec seconds").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events")),
      // q104 mirror: islands form of session_window semantics — note >=
      // (a gap of EXACTLY the window size starts a new session, unlike
      // q56's strict >) and end = last event + gap
      s"""WITH t AS (
         |  SELECT user_id, ts,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR ts - lag(ts) OVER w
         |                   >= INTERVAL $SessionWindowGapSec SECOND
         |              THEN 1 ELSE 0 END AS new_s
         |    FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |g AS (
         |  SELECT user_id, ts,
         |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |                          ROWS UNBOUNDED PRECEDING) AS sid
         |    FROM t)
         |SELECT user_id, min(ts) AS session_start,
         |       max(ts) + INTERVAL $SessionWindowGapSec SECOND AS session_end,
         |       count(*) AS n_events
         |  FROM g GROUP BY user_id, sid""".stripMargin),

    // ---- T37: mergeable quantile histograms (percentile re-agg) ---------
    Q("q130_histogram_percentiles", (s, d) =>
      histogramPercentilesOn(Tables.events(s, d)),
      // q130 mirror: same day-partial → SUM-merge → integer-compare
      // bucket selection; exact side is quantile_cont (bit-parity with
      // Spark's percentile, proven on q69)
      s"""WITH ev AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
         |partials AS (
         |  SELECT event_type, day,
         |    least(${HistB - 1}, CAST(floor(value / $HistW) AS BIGINT))
         |      AS bucket,
         |    count(*) AS cnt
         |  FROM ev GROUP BY 1, 2, 3),
         |merged AS (
         |  SELECT event_type, bucket, CAST(sum(cnt) AS BIGINT) AS cnt,
         |         count(DISTINCT day) AS n_days
         |  FROM partials GROUP BY 1, 2),
         |cum AS (
         |  SELECT event_type, bucket, cnt, n_days,
         |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM merged),
         |ests AS (
         |  SELECT event_type, max(n) AS n,
         |    CAST(sum(n_days) AS BIGINT) AS day_parts,
         |    (min(CASE WHEN cum * 100 >= n * 50 THEN bucket END) + 1)
         |      * $HistW AS p50_est,
         |    (min(CASE WHEN cum * 100 >= n * 90 THEN bucket END) + 1)
         |      * $HistW AS p90_est,
         |    (min(CASE WHEN cum * 100 >= n * 99 THEN bucket END) + 1)
         |      * $HistW AS p99_est
         |  FROM cum GROUP BY 1),
         |exact AS (
         |  SELECT event_type,
         |    quantile_cont(value, 0.5) AS p50_exact,
         |    quantile_cont(value, 0.9) AS p90_exact,
         |    quantile_cont(value, 0.99) AS p99_exact
         |  FROM ev GROUP BY 1)
         |SELECT e.event_type, e.n, e.day_parts, e.p50_est, e.p90_est,
         |       e.p99_est, x.p50_exact, x.p90_exact, x.p99_exact
         |FROM ests e JOIN exact x USING (event_type)""".stripMargin),

    // ---- T41: grouped linear regression (integer sufficient stats) ------
    Q("q134_grouped_regression", (s, d) =>
      groupedRegressionOn(Tables.events(s, d)),
      // q134 mirror: identical integer sufficient statistics; every sum
      // accumulates in HUGEINT (the mirror of Spark's cast-before-sum
      // DECIMAL(38,0) — both exact 128-bit), the normal-equation products
      // stay 128-bit, then one correctly-rounded cast to DOUBLE per
      // reported statistic / operand, so every output column is
      // bit-identical; the regr_slope cross-check is Spark-side only
      // (engine double paths differ in the last ulp)
      """WITH t AS (
        |  SELECT event_type,
        |    -- date_diff, NOT CAST(epoch(...)): epoch() returns
        |    -- FRACTIONAL seconds and the cast rounds half-up where
        |    -- Spark's unix_seconds truncates — a one-second x skew on
        |    -- ~half the rows
        |    CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
        |      AS HUGEINT) AS x,
        |    CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sxh, sum(y) AS syh,
        |    sum(x * y) AS sxyh, sum(x * x) AS sxxh
        |  FROM t GROUP BY 1),
        |d AS (
        |  SELECT event_type, n, sxh, syh, sxyh, sxxh,
        |    CAST(CAST(n AS HUGEINT) * sxyh - sxh * syh AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * sxxh - sxh * sxh AS DOUBLE) AS slope
        |  FROM s)
        |SELECT event_type, n,
        |  CAST(sxh AS DOUBLE) AS sx, CAST(syh AS DOUBLE) AS sy,
        |  CAST(sxyh AS DOUBLE) AS sxy, CAST(sxxh AS DOUBLE) AS sxx, slope,
        |  (CAST(syh AS DOUBLE) - slope * CAST(sxh AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM d""".stripMargin),

    // ---- T41b: grouped Pearson correlation (same exact-stat machinery) --
    Q("q135_grouped_corr", (s, d) =>
      groupedCorrOn(Tables.events(s, d)),
      // q135 mirror: q134's stats + Σy²; all sums HUGEINT, numerator exact
      // 128-bit, then sqrt·sqrt division in the identical IEEE sequence
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
        |      AS HUGEINT) AS x,
        |    CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sxh, sum(y) AS syh,
        |    sum(x * y) AS sxyh, sum(x * x) AS sxxh, sum(y * y) AS syyh
        |  FROM t GROUP BY 1)
        |SELECT event_type, n, CAST(syyh AS DOUBLE) AS syy,
        |  CAST(CAST(n AS HUGEINT) * sxyh - sxh * syh AS DOUBLE)
        |  / (sqrt(CAST(CAST(n AS HUGEINT) * sxxh - sxh * sxh AS DOUBLE))
        |     * sqrt(CAST(CAST(n AS HUGEINT) * syyh - syh * syh AS DOUBLE)))
        |    AS corr_xy
        |FROM s""".stripMargin),

    // ---- T38: min-max file skipping (manifest-pruned range scan) --------
    Q("q131_minmax_skipping", (s, d) => {
      // The data-skipping index a lakehouse format maintains per file,
      // rebuilt from plain parquet (LayoutOps Scaladoc has the design):
      // range-clustered layout on `value`, per-file (lo, hi) stats,
      // manifest-style overlap pruning, residual re-filter. The result
      // is layout-INDEPENDENT (any boundaries prune correctly, just
      // less selectively), so it faces the plain-SQL oracle hash-exact;
      // LayoutSkipSpec asserts the selectivity side — that a selective
      // band actually reads a strict minority of the files. Sums are
      // integer cents (q123's discipline) so the aggregate is bit-exact.
      // layout-cache key: md5 of the dataset path (32-bit String.hashCode
      // collides across paths and would silently serve another dataset's
      // layout) plus the process id, so two concurrent JVMs on the same
      // dataset never race overwrite-vs-read on shared file paths; the
      // pid-fresh dir is registered for shutdown-hook deletion so runs
      // don't accumulate temp-dir garbage
      val dirKey = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_skip_" +
        s"${dirKey}_${ProcessHandle.current().pid()}"
      operators.LayoutOps.cleanupOnExit(dir)
      operators.LayoutOps.skippingLayout(
        Tables.events(s, d).select(col("event_type"), col("value")),
        col("value"), dir, SkipFiles)
      val (pruned, _, _) = operators.LayoutOps.skippingRead(
        s, dir, "value", SkipLo, SkipHi)
      pruned.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    },
      // q131 mirror: the plain range scan — skipping is a physical
      // device, never a semantic one (the q105 philosophy)
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM events WHERE value >= $SkipLo AND value <= $SkipHi
         |GROUP BY 1""".stripMargin),

    // ---- T33: SCD Type-2 dimension build (change-data → history) --------
    Q("q122_scd2_build", (s, d) => {
      // The warehousing operator that turns a change/event stream into a
      // slowly-changing-dimension type-2 history: per key, consecutive
      // runs of the same attribute value collapse into one VERSION row
      // with [valid_from, valid_to) validity and an is_current marker —
      // the table every "as of" dimension lookup (q52's asof join) is
      // served from. Run detection is the islands trick (lag ≠ current →
      // change flag → running sum = version id), the same family as
      // q56's sessionization but keyed on VALUE change, not time gaps.
      //
      // Scale shape: ONE data-sized exchange (hash by user_id for the
      // run window). The version aggregate groups by (user_id, version)
      // — a superset of the window's partitioning, so ClusteredDistribution
      // is already satisfied and no second exchange appears (asserted in
      // PlanAuditSpec); the valid_to lead window re-sorts the runs table
      // (≤ one row per run) inside the same partitioning. Per-key state
      // is bounded by the key's run count, never the corpus.
      scd2Build(Tables.events(s, d))
    },
      // q122 mirror: same islands → versions → validity-interval chain;
      // IS DISTINCT FROM covers the first-row NULL lag exactly like the
      // Spark side's isNull || =!= pair
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |versioned AS (
        |  SELECT user_id, ts, event_type,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        |  FROM ordered),
        |runs AS (
        |  SELECT user_id, version, min(ts) AS valid_from,
        |         min(event_type) AS attr, count(*) AS n_events
        |  FROM versioned GROUP BY 1, 2)
        |SELECT user_id, version, valid_from, attr, n_events,
        |  lead(valid_from) OVER wv AS valid_to,
        |  CAST(lead(valid_from) OVER wv IS NULL AS BIGINT) AS is_current
        |FROM runs WINDOW wv AS (PARTITION BY user_id ORDER BY version)"""
        .stripMargin),

    // ---- T36: incremental SCD2 maintenance (delta apply ≡ recompute) ----
    Q("q129_scd2_incremental", (s, d) => {
      // The nightly form of q122: a delta batch of new events arrives
      // and the SCD2 table must be AMENDED, not rebuilt — the CDC-apply
      // pattern every warehouse dimension lives by (T31 owns the file-
      // level merge; this owns the history-semantics level). Keys with
      // no delta events pass through UNTOUCHED (their history cannot
      // change — events are append-only and runs only extend at the
      // tail); touched keys' histories are re-derived from their base
      // events + delta. The ORACLE is q122's full recompute over all
      // events — incremental-equals-recompute IS the claim, checked
      // hash-exact.
      //
      // Scale shape: the touched-key set (|keys active in the delta| —
      // 64 of 150 here; a sliver of a 100-TB key space) broadcasts into
      // a semi-join that prunes the recompute to touched keys' events,
      // and an anti-join that forwards untouched history rows AS DATA
      // (no window, no re-sort — at scale this branch is a partition-
      // pruned pass-through of the stored SCD2 table). Only the touched
      // slice pays the q122 window chain.
      val seam = lit(ScdSeam).cast("timestamp")
      val ev = Tables.events(s, d)
      val base = ev.filter(col("ts") < seam)
      val delta = ev.filter(col("ts") >= seam)
      val touched = delta.select(col("user_id")).distinct()
      val untouched = scd2Build(base)
        .join(broadcast(touched), Seq("user_id"), "left_anti")
      val evCols = Seq(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      val recomputed = scd2Build(
        base.join(broadcast(touched), Seq("user_id"), "left_semi")
          .select(evCols: _*)
          .unionAll(delta.select(evCols: _*)))
      untouched.unionAll(recomputed)
    },
      // q129 mirror: q122's FULL RECOMPUTE verbatim — the incremental
      // apply must be indistinguishable from rebuilding the history, the
      // same oracle philosophy as q105's band (a physical device, never a
      // semantic one)
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |versioned AS (
        |  SELECT user_id, ts, event_type,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        |  FROM ordered),
        |runs AS (
        |  SELECT user_id, version, min(ts) AS valid_from,
        |         min(event_type) AS attr, count(*) AS n_events
        |  FROM versioned GROUP BY 1, 2)
        |SELECT user_id, version, valid_from, attr, n_events,
        |  lead(valid_from) OVER wv AS valid_to,
        |  CAST(lead(valid_from) OVER wv IS NULL AS BIGINT) AS is_current
        |FROM runs WINDOW wv AS (PARTITION BY user_id ORDER BY version)"""
        .stripMargin),

    // ---- T34: time-series gap fill + forward-fill resample --------------
    Q("q123_gapfill_resample", (s, d) => {
      // Regular-grid resampling with forward fill — the time-series
      // repair every monitoring/feature pipeline runs before joining
      // series with different clocks: one row per (series, hour slot)
      // over a FIXED horizon, observed slots carry their aggregate,
      // missing slots are synthesized (n_obs = 0, is_gap = 1) and
      // inherit the last observed value. The fill value is an integer
      // cents-average (BIGINT sum of round(value·100) DIV count) so the
      // carried value is bit-exact cross-engine; leading gaps stay NULL
      // (nothing to carry yet) — both engines agree.
      //
      // Scale shape: the corpus-sized work is ONE hash aggregate (per-
      // slot partials combine map-side); the grid is |series|·|slots|
      // rows — horizon-bounded, not corpus-bounded — built from a
      // sequence() explode, and the forward-fill window runs over the
      // GRID, so its per-key state is the slot count you asked for, no
      // matter how many raw events feed a slot. The grid join is
      // grid-sized; AQE broadcasts it while small.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .filter(col("ts") >= lit(ResampleLo).cast("timestamp") &&
                col("ts") <= lit(ResampleHi).cast("timestamp"))
      val obs = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("slot"))
        .agg(count(lit(1)).as("n_obs_raw"),
             sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .withColumn("avg_cents", expr("cents DIV n_obs_raw"))
      val grid = ev.select(col("event_type")).distinct()
        .select(col("event_type"), explode(expr(
          s"sequence(TIMESTAMP '$ResampleLo', TIMESTAMP '$ResampleHi', " +
            "INTERVAL 1 HOUR)")).as("slot"))
      val wff = Window.partitionBy(col("event_type")).orderBy(col("slot"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("event_type", "slot"), "left")
        .select(col("event_type"), col("slot"),
          coalesce(col("n_obs_raw"), lit(0L)).as("n_obs"),
          col("n_obs_raw").isNull.cast("bigint").as("is_gap"),
          last(col("avg_cents"), ignoreNulls = true).over(wff)
            .as("ff_avg_cents"))
    },
      // q123 mirror: generate_series grid × observed hourly integer-cents
      // aggregate, forward fill via IGNORE NULLS; DuckDB's // is the same
      // floor division as Spark's DIV on the non-negative cents here
      s"""WITH ev AS (
         |  SELECT * FROM events
         |  WHERE ts >= TIMESTAMP '$ResampleLo' AND ts <= TIMESTAMP '$ResampleHi'),
         |obs AS (
         |  SELECT event_type, date_trunc('hour', ts) AS slot,
         |         count(*) AS n_obs_raw,
         |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM ev GROUP BY 1, 2),
         |grid AS (
         |  SELECT event_type, unnest(generate_series(
         |    TIMESTAMP '$ResampleLo', TIMESTAMP '$ResampleHi',
         |    INTERVAL 1 HOUR)) AS slot
         |  FROM (SELECT DISTINCT event_type FROM ev))
         |SELECT g.event_type, g.slot,
         |  coalesce(o.n_obs_raw, 0) AS n_obs,
         |  CAST(o.n_obs_raw IS NULL AS BIGINT) AS is_gap,
         |  last_value(o.cents // o.n_obs_raw IGNORE NULLS) OVER (
         |    PARTITION BY g.event_type ORDER BY g.slot
         |    ROWS UNBOUNDED PRECEDING) AS ff_avg_cents
         |FROM grid g LEFT JOIN obs o
         |  ON g.event_type = o.event_type AND g.slot = o.slot""".stripMargin),

    // ---- T35: sweep-line interval concurrency (sharded prefix sum) ------
    Q("q124_sweepline_concurrency", (s, d) => {
      // "How many intervals are open at once" — capacity planning over
      // order lifetimes ([o_orderdate, +90d), the q12 interval), solved
      // by the classic sweep line: +1 at start, −1 at end, running sum
      // = concurrency curve, reported as per-(priority, month) peaks.
      // The [start, end) boundary rule is pinned by the sort: at equal
      // t the −1 sorts before the +1 (delta ascending), so an interval
      // ending exactly when another starts never overlaps it.
      //
      // Scale shape: the textbook formulation is a GLOBAL ORDER BY —
      // a single-partition window over every endpoint, the q83 hazard.
      // Here the curve runs through ShardedWindows.runningSum keyed
      // (priority, 256-day shard of t, DATA-ADAPTIVE sub-shard):
      // shard-local inclusive sums in parallel + an exclusive prefix
      // over the |groups|·|shards|·S totals table, bit-identical to the
      // single window (BIGINT addition is associative).
      //
      // The sub-shard (r14; was the one honest-but-avoidable β 0.69
      // curve in SCALING §8l): a pure time shard keeps the window's key
      // space FIXED (|groups|·|shards| ≈ 50 keys) while endpoint volume
      // grows, so per-key window input grows linearly AND ~50 keys hash
      // unevenly over the task width (longest-task dominated). Splitting
      // each shard into S rank ranges of its DAY-MASS distribution caps
      // both: boundaries are computed DRIVER-SIDE from the exact
      // (shard, day, count) table — span-bounded, one row per day, the
      // q131 manifest argument for a driver collect, and exactly how
      // Spark's own RangePartitioner derives boundaries (sampled there,
      // exact here) — then ride back as a ≤|days|-row broadcast mapping
      // day → composite shard key. Sub-shard = start_rank·S DIV total
      // puts ≈ 1/S of a shard's ROWS in each sub-shard no matter how
      // skewed the days are (an in-plan join-back of a windowed rank
      // table was measured 2× slower: two extra corpus-sized branches).
      // Order-compatible by construction: days are assigned whole
      // (equal-t rows share a sub-shard) and ranks are monotone in t;
      // the offsets table stays |groups|·|shards|·S — bounded by the
      // span and a constant, never the corpus. Day mass is aggregated
      // over ALL groups (balance only — correctness never depends on
      // the assignment, and per-group mass tracks the global mix).
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
                col("o_orderdate"))
      val deltas = o.select(col("prio"), col("o_orderdate").as("t"),
          lit(1L).as("delta"), col("o_orderkey"))
        .unionAll(o.select(col("prio"),
          (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("t"),
          lit(-1L).as("delta"), col("o_orderkey")))
      val dayMass = deltas
        .groupBy(expr("CAST(datediff(t, DATE '1970-01-01') AS BIGINT)")
          .as("dday"))
        .agg(count(lit(1)).as("dcnt"))
        .collect()
      val dayToCshard: Seq[(Long, Long)] = dayMass
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1 / SweepShardDays).toSeq
        .flatMap { case (shard, rows) =>
          val sorted = rows.sortBy(_._1)
          val total = sorted.map(_._2).sum
          var run = 0L
          sorted.map { case (dday, cnt) =>
            val sub = run * SweepSubShards / total
            run += cnt
            (dday, shard * (SweepSubShards * 4) + sub)
          }
        }
      val subTable = {
        import s.implicits._
        dayToCshard.toDF("dday", "cshard")
      }
      val sharded = deltas
        .withColumn("dday",
          expr("CAST(datediff(t, DATE '1970-01-01') AS BIGINT)"))
        .join(broadcast(subTable), Seq("dday"))
      val curve = operators.ShardedWindows.runningSum(sharded, "prio",
        "cshard", Seq(col("t"), col("delta"), col("o_orderkey")),
        "delta", "open")
      curve.groupBy(col("prio"), date_trunc("month", col("t")).as("month"))
        .agg(max(col("open")).as("max_open"),
             count(lit(1)).as("n_changes"))
    },
      // q124 mirror: the single-window textbook sweep line (the sharded
      // form must be bit-identical to it — that IS the claim); sum casts
      // back from DuckDB's HUGEINT
      """WITH deltas AS (
        |  SELECT o_orderpriority AS prio, o_orderdate AS t,
        |         CAST(1 AS BIGINT) AS delta, o_orderkey
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderpriority, o_orderdate + INTERVAL 90 DAY,
        |         CAST(-1 AS BIGINT), o_orderkey
        |  FROM orders),
        |curve AS (
        |  SELECT prio, t,
        |    CAST(sum(delta) OVER (PARTITION BY prio
        |      ORDER BY t, delta, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
        |  FROM deltas)
        |SELECT prio, date_trunc('month', t) AS month,
        |       max(open) AS max_open, count(*) AS n_changes
        |FROM curve GROUP BY 1, 2""".stripMargin),

    // ---- T42–T44: correlated subqueries (VERDICT r13 gap 1) -------------
    // The warehouse-SQL surface every porting user hits on day one:
    // WHERE EXISTS / NOT EXISTS, a correlated scalar subquery in SELECT,
    // and IN (subquery). Expressed as actual SQL subqueries ON PURPOSE —
    // the engine property these rows pin is Catalyst's DECORRELATION
    // (RewritePredicateSubquery / RewriteCorrelatedScalarSubquery): the
    // per-row-re-execution reading of a correlated subquery must compile
    // to one semi/anti/outer equi-join per subquery, which PlanAuditSpec
    // machine-asserts. At 100 TB each decorrelated join is an ordinary
    // keyed join — broadcast when the subquery side is dim-sized (AQE
    // decides from measured size), hash-shuffle otherwise — so the
    // operator inherits the engine's whole join scale story instead of
    // a nested-loop one.
    Q("q136_subquery_exists", (s, d) => {
      // customers with at least one high-value order: EXISTS → LeftSemi
      Tables.customer(s, d).createOrReplaceTempView("graft_q136_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q136_orders")
      s.sql(
        s"""SELECT c_custkey, c_mktsegment FROM graft_q136_customer c
           |WHERE EXISTS (SELECT 1 FROM graft_q136_orders o
           |              WHERE o.o_custkey = c.c_custkey
           |                AND o.o_totalprice > $SubqPriceHi)"""
          .stripMargin)
    },
      // q136–q139 mirrors: the IDENTICAL subquery SQL (DuckDB decorrelates
      // too) — the semantic claim is engine-independent subquery meaning,
      // the plan claim (semi/anti/outer join, no per-row re-execution) is
      // PlanAuditSpec's
      s"""SELECT c_custkey, c_mktsegment FROM customer c
         |WHERE EXISTS (SELECT 1 FROM orders o
         |              WHERE o.o_custkey = c.c_custkey
         |                AND o.o_totalprice > $SubqPriceHi)""".stripMargin),

    Q("q137_subquery_not_exists", (s, d) => {
      // customers with NO high-value order: NOT EXISTS → LeftAnti (the
      // null-safe complement a NOT IN over a nullable key would botch)
      Tables.customer(s, d).createOrReplaceTempView("graft_q137_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q137_orders")
      s.sql(
        s"""SELECT c_custkey, c_acctbal FROM graft_q137_customer c
           |WHERE NOT EXISTS (SELECT 1 FROM graft_q137_orders o
           |                  WHERE o.o_custkey = c.c_custkey
           |                    AND o.o_totalprice > $SubqPriceHi)"""
          .stripMargin)
    },
      s"""SELECT c_custkey, c_acctbal FROM customer c
         |WHERE NOT EXISTS (SELECT 1 FROM orders o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_totalprice > $SubqPriceHi)""".stripMargin),

    Q("q138_subquery_scalar", (s, d) => {
      // correlated scalar subqueries in SELECT — max (NULL on empty
      // match, both engines) and COUNT (the classic decorrelation trap:
      // an outer-join rewrite must coalesce the no-match group to 0, not
      // NULL — both engines agree and the hash compare pins it)
      Tables.customer(s, d).createOrReplaceTempView("graft_q138_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q138_orders")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT max(o_totalprice) FROM graft_q138_orders o
          |   WHERE o.o_custkey = c.c_custkey) AS max_price,
          |  CAST((SELECT count(*) FROM graft_q138_orders o
          |        WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
          |FROM graft_q138_customer c WHERE c_custkey < 500"""
          .stripMargin)
    },
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price,
        |  CAST((SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
        |FROM customer c WHERE c_custkey < 500""".stripMargin),

    Q("q139_subquery_in", (s, d) => {
      // IN (subquery) over a non-null key: plans as LeftSemi, same as
      // EXISTS — pinned so the two spellings stay plan-equivalent
      Tables.customer(s, d).createOrReplaceTempView("graft_q139_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q139_orders")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM graft_q139_orders
          |WHERE o_custkey IN (SELECT c_custkey FROM graft_q139_customer
          |                    WHERE c_mktsegment = 'BUILDING')"""
          .stripMargin)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')""".stripMargin),

    Q("q141_subquery_not_in", (s, d) => {
      // NOT IN three-valued logic, the most-botched subquery semantics
      // in warehouse SQL, pinned in BOTH regimes in one query: branch
      // 'clean' runs NOT IN over a null-free subquery (≡ anti join —
      // real rows survive); branch 'nullable' injects a NULL into the
      // subquery, which per SQL makes `k NOT IN (S)` UNKNOWN for every
      // non-member — the branch must yield ZERO rows, never the anti
      // join a naive rewrite would produce. Engines that "fix" this
      // silently (or users who port NOT IN → anti join) diverge here;
      // the hash compare pins the standard behavior. BOTH branches plan
      // as a null-aware BroadcastHashJoin LeftAnti (`... BuildRight, true`
      // — SPARK-32290), never a BroadcastNestedLoopJoin; PlanAuditSpec
      // machine-asserts this. The residual cost of NOT IN on a nullable
      // key is the null-aware probe (any-null short-circuit per row),
      // which is why q137's NOT EXISTS spelling remains the 100-TB
      // recommendation when the key is provably non-null.
      Tables.customer(s, d).createOrReplaceTempView("graft_q141_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q141_orders")
      s.sql(
        s"""SELECT 'clean' AS branch, count(*) AS n FROM graft_q141_orders
           |WHERE o_custkey NOT IN (
           |  SELECT c_custkey FROM graft_q141_customer
           |  WHERE c_mktsegment = 'BUILDING')
           |UNION ALL
           |SELECT 'nullable' AS branch, count(*) AS n FROM graft_q141_orders
           |WHERE o_custkey NOT IN (
           |  SELECT CASE WHEN c_acctbal < 500 THEN NULL ELSE c_custkey END
           |  FROM graft_q141_customer WHERE c_mktsegment = 'BUILDING')"""
          .stripMargin)
    },
      """SELECT 'clean' AS branch, count(*) AS n FROM orders
        |WHERE o_custkey NOT IN (
        |  SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING')
        |UNION ALL
        |SELECT 'nullable' AS branch, count(*) AS n FROM orders
        |WHERE o_custkey NOT IN (
        |  SELECT CASE WHEN c_acctbal < 500 THEN NULL ELSE c_custkey END
        |  FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin),

    // ---- T45: LATERAL subquery joins ------------------------------------
    // The other day-one warehouse surface (alongside T42–T44): a
    // correlated subquery in the FROM clause. The engine property pinned
    // is again decorrelation — Spark rewrites a correlated LATERAL with
    // ORDER BY + LIMIT into WindowGroupLimit + equi-join (per-task k-row
    // heaps — the q113/q23 scale shape, NOT a per-outer-row re-execution),
    // machine-asserted in PlanAuditSpec. DuckDB executes the identical
    // SQL text, so the semantics face the hash compare.
    Q("q142_lateral_topk", (s, d) => {
      // top-2 orders per customer, the "top-k per group" idiom users
      // write as LATERAL when they come from Postgres
      Tables.customer(s, d).createOrReplaceTempView("graft_q142_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q142_orders")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM graft_q142_customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM graft_q142_orders o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c.c_custkey < 300""".stripMargin)
    },
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey < 300""".stripMargin),

    // ---- T49: aggregate modifiers (FILTER + multi-DISTINCT) -------------
    Q("q148_agg_modifiers", (s, d) => {
      // the standard-SQL aggregate modifiers a warehouse port uses on
      // day one: per-aggregate FILTER (WHERE …) — the conditional-agg
      // form that replaces sum(CASE WHEN …) — and MULTIPLE DISTINCT
      // aggregates over DIFFERENT columns in one SELECT. The second is
      // the scale story: Catalyst rewrites multi-distinct through an
      // Expand operator (one input row fans out once per distinct
      // group), so the shuffle carries ~|distinct-groups|× the input —
      // the documented price of mixing distinct columns in one
      // aggregate, machine-asserted in PlanAuditSpec so a future Spark
      // can't silently change the shape out from under the cost model.
      // FILTER composes with DISTINCT (n_hi_users) — the combination
      // most engines historically botched.
      Tables.events(s, d).createOrReplaceTempView("graft_q148_events")
      s.sql(
        """SELECT event_type,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(*) FILTER (WHERE value > 150) AS BIGINT) AS n_hi,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |  CAST(count(DISTINCT user_id) FILTER (WHERE value > 150)
          |    AS BIGINT) AS n_hi_users,
          |  CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
          |FROM graft_q148_events GROUP BY event_type""".stripMargin)
    },
      // q148 mirror: identical text modulo the view name
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (WHERE value > 150) AS BIGINT) AS n_hi,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT user_id) FILTER (WHERE value > 150)
        |    AS BIGINT) AS n_hi_users,
        |  CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- T51: UNPIVOT / melt (T4's inverse) -----------------------------
    Q("q149_unpivot", (s, d) => {
      // the wide→long reshape every metrics/ML-feature port hits in its
      // first week — T4 (q55) ships pivot; this is its inverse. Input is
      // q55's natural output: the per-user event-type count matrix,
      // built WITHOUT na.fill so absent (user, type) cells stay NULL —
      // because the semantics worth pinning is NULL-cell handling: SQL
      // UNPIVOT drops NULL cells by default (EXCLUDE NULLS — both Spark
      // 4 SPARK-39877 and DuckDB agree), while the Dataset.unpivot/melt
      // API RETAINS them; the long output here must therefore hold
      // exactly the observed (user, type) pairs, never a dense
      // |users|×|types| grid (EdgeCaseSpec pins the API-vs-SQL split
      // and the unpivot∘pivot ≡ identity round trip). Scale shape: unpivot
      // is a narrow per-row Expand (one input row → ≤ |value columns|
      // output rows, no exchange) — the transpose itself never
      // shuffles; only the upstream pivot aggregate does.
      val wide = Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
      wide.createOrReplaceTempView("graft_q149_wide")
      s.sql(
        """SELECT user_id, event_type, n FROM graft_q149_wide
          |UNPIVOT (n FOR event_type IN
          |  (click, error, purchase, signup, view))""".stripMargin)
    },
      // q149 mirror: the wide matrix is rebuilt via FILTER counts with
      // NULLIF(·, 0) — a pivot cell is NULL exactly when no rows of that
      // type exist, which is when the FILTER count is 0 — then the SAME
      // standard-SQL UNPIVOT text runs in DuckDB (EXCLUDE NULLS default
      // in both engines; the dropped cells ARE the claim)
      """WITH wide AS (
        |  SELECT user_id,
        |    NULLIF(count(*) FILTER (WHERE event_type = 'click'), 0)    AS click,
        |    NULLIF(count(*) FILTER (WHERE event_type = 'error'), 0)    AS error,
        |    NULLIF(count(*) FILTER (WHERE event_type = 'purchase'), 0) AS purchase,
        |    NULLIF(count(*) FILTER (WHERE event_type = 'signup'), 0)   AS signup,
        |    NULLIF(count(*) FILTER (WHERE event_type = 'view'), 0)     AS view
        |  FROM events GROUP BY user_id)
        |SELECT user_id, event_type, n FROM wide
        |UNPIVOT (n FOR event_type IN
        |  (click, error, purchase, signup, view))""".stripMargin),

    // ---- T52: collation-aware compare / group / join (UTF8_LCASE) -------
    Q("q151_collated_group_join", (s, d) => {
      // Spark 4 collations — the semantics a porting user hits when
      // leaving an engine that defaults case-insensitive: a UTF8_LCASE
      // column compares, groups, and joins case-insensitively WITHOUT
      // rewriting every predicate through lower(). The fixture derives a
      // mixed-case segment column (even keys lowercased, odd keys kept
      // upper), tags it COLLATE UTF8_LCASE, then joins it to a
      // lowercase dim and groups on it: both case variants of a segment
      // land in ONE group (n_case_variants = 2 proves the merge — the
      // inner count(DISTINCT) is over the BINARY string) and the
      // lowercase dim matches the uppercase rows. The output label is
      // lower()ed and cast back to UTF8_BINARY so the result is
      // representative-independent (which case variant a group reports
      // is engine-internal — never output a collated key raw). Oracle:
      // the lower()-rewrite formulation in DuckDB, pinned ≡ hash-exact
      // (on ASCII data UTF8_LCASE equality IS lower() equality). The
      // engine property is the COST of that convenience, measured and
      // machine-asserted in PlanAuditSpec: Spark 4.1 keys without
      // binary equality keep hash PARTITIONING (Exchange
      // hashpartitioning on the collated key — distribution and skew
      // handling survive) but lose the hash OPERATORS — the join falls
      // to SortMergeJoin and the aggregate to SortAggregate, while the
      // semantically-identical lower() rewrite keeps BroadcastHashJoin
      // + HashAggregate. The 100-TB recommendation follows: collate at
      // the EDGE for correctness, rewrite hot join/agg keys through
      // lower() (exactly what this oracle proves is equivalent).
      Tables.customer(s, d).createOrReplaceTempView("graft_q151_customer")
      s.sql(
        """WITH c AS (
          |  SELECT c_custkey, c_acctbal,
          |    CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
          |         ELSE c_mktsegment END AS seg_mixed
          |  FROM graft_q151_customer),
          |coll AS (
          |  SELECT c_custkey, c_acctbal, seg_mixed,
          |    seg_mixed COLLATE UTF8_LCASE AS seg
          |  FROM c),
          |dim AS (SELECT * FROM VALUES ('building'), ('MACHINERY'),
          |                             ('Household') AS t(name))
          |SELECT CAST(lower(seg) AS STRING) AS seg_l,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(DISTINCT seg_mixed) AS BIGINT) AS n_case_variants,
          |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
          |    AS cents
          |FROM coll JOIN dim ON coll.seg = dim.name COLLATE UTF8_LCASE
          |GROUP BY seg""".stripMargin)
    },
      // q151 mirror: the lower()-rewrite formulation — on ASCII data
      // UTF8_LCASE equality/grouping IS lower() equality/grouping, which
      // is exactly the equivalence the query claims
      """WITH c AS (
        |  SELECT c_custkey, c_acctbal,
        |    CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
        |         ELSE c_mktsegment END AS seg_mixed
        |  FROM customer),
        |dim AS (SELECT * FROM (VALUES ('building'), ('MACHINERY'),
        |                              ('Household')) t(name))
        |SELECT lower(seg_mixed) AS seg_l,
        |  count(*) AS n,
        |  count(DISTINCT seg_mixed) AS n_case_variants,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM c JOIN dim ON lower(seg_mixed) = lower(name)
        |GROUP BY lower(seg_mixed)""".stripMargin),

    // ---- T53: SQL-language UDFs (CREATE FUNCTION ... RETURN expr) -------
    Q("q152_sql_udf", (s, d) => {
      // the one function-registry surface this repo's "no UDFs" policy
      // can embrace: Spark 4 SQL scalar UDFs (SPARK-46246) INLINE their
      // body into the plan at analysis — no black-box eval node, no
      // codegen break, full Catalyst visibility (pushdown/folding work
      // through them) — unlike a Scala/Python UDF, which is an opaque
      // call forever. Registered here: the two house formulas (integer
      // cents, whole-bit log2) plus a COMPOSED function calling another
      // SQL UDF — composition must flatten through, the registry
      // analogue of the native-expression tier's codegen claim.
      // PlanAuditSpec machine-asserts the property: the aggregate's
      // expressions contain the inlined bin()/round() bodies and the
      // plan has no ScalaUDF/Invoke node. Oracle: the same formulas
      // written out longhand in DuckDB — which is exactly what
      // "inlined" means semantically.
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(v DOUBLE)
              |RETURNS BIGINT RETURN CAST(round(v * 100) AS BIGINT)"""
        .stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_bits(x BIGINT)
              |RETURNS BIGINT RETURN CAST(length(bin(x)) AS BIGINT)"""
        .stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION
              |graft_weighted_bits(x BIGINT, w BIGINT)
              |RETURNS BIGINT RETURN graft_bits(x) * w""".stripMargin)
      Tables.events(s, d).createOrReplaceTempView("graft_q152_events")
      s.sql(
        """SELECT event_type,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(graft_cents(value)) AS BIGINT) AS cents,
          |  CAST(sum(graft_bits(event_id)) AS BIGINT) AS sum_bits,
          |  CAST(max(graft_weighted_bits(event_id, 3)) AS BIGINT)
          |    AS max_wbits
          |FROM graft_q152_events GROUP BY event_type""".stripMargin)
    },
      // q152 mirror: the SQL-UDF bodies written out longhand — which is
      // exactly what "the registry inlines" means semantically
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CAST(length(format('{:b}', event_id)) AS BIGINT))
        |    AS BIGINT) AS sum_bits,
        |  CAST(max(CAST(length(format('{:b}', event_id)) AS BIGINT) * 3)
        |    AS BIGINT) AS max_wbits
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- T54: time-grid gap fill + LOCF (IGNORE NULLS windows) ----------
    Q("q153_gapfill_locf", (s, d) => {
      // the time-series regularization every metrics pipeline runs
      // before resampling/joining: densify each key's observations onto
      // a fixed hourly grid (sequence + explode — generation is IN-PLAN
      // and narrow, never a driver loop), left-join the real
      // observations, then carry the last observation forward with
      // last_value(...) IGNORE NULLS over an unbounded-preceding ROWS
      // frame — the LOCF idiom, and THE place the IGNORE NULLS window
      // modifier earns its keep (a plain last_value returns the current
      // row's NULL). Grid starts at each key's own min hour, so slot 1
      // always holds an observation and locf is total. Output is
      // per-user slot/observation/mass aggregates — compact,
      // deterministic, integer-cents. Scale: grid size = keys × span
      // (bounded by calendar time, not event volume); one keyed
      // equi-join + ONE window exchange per key; the window state is a
      // single running value, frame-bounded.
      Tables.events(s, d).createOrReplaceTempView("graft_q153_events")
      s.sql(
        """WITH obs AS (
          |  SELECT user_id, date_trunc('hour', ts) AS h,
          |         max(CAST(round(value * 100) AS BIGINT)) AS cents
          |  FROM graft_q153_events WHERE user_id < 50
          |  GROUP BY user_id, date_trunc('hour', ts)),
          |bounds AS (
          |  SELECT user_id, min(h) AS lo, max(h) AS hi
          |  FROM obs GROUP BY user_id),
          |grid AS (
          |  SELECT user_id, explode(sequence(lo, hi, INTERVAL 1 HOUR)) AS h
          |  FROM bounds),
          |filled AS (
          |  SELECT g.user_id, g.h, o.cents,
          |    last_value(o.cents) IGNORE NULLS OVER (
          |      PARTITION BY g.user_id ORDER BY g.h
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS cents_locf
          |  FROM grid g LEFT JOIN obs o
          |    ON g.user_id = o.user_id AND g.h = o.h)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_slots,
          |  CAST(count(cents) AS BIGINT) AS n_obs,
          |  CAST(sum(cents_locf) AS BIGINT) AS locf_mass,
          |  CAST(max(cents_locf) AS BIGINT) AS max_cents
          |FROM filled GROUP BY user_id""".stripMargin)
    },
      // q153 mirror: generate_series + unnest for the grid, IGNORE NULLS
      // spelled inside the call (DuckDB's placement), same LOCF frame
      """WITH obs AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h,
        |         max(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events WHERE user_id < 50
        |  GROUP BY user_id, date_trunc('hour', ts)),
        |bounds AS (
        |  SELECT user_id, min(h) AS lo, max(h) AS hi
        |  FROM obs GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |    AS h
        |  FROM bounds),
        |filled AS (
        |  SELECT g.user_id, g.h, o.cents,
        |    last_value(o.cents IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cents_locf
        |  FROM grid g LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.h = o.h)
        |SELECT user_id, count(*) AS n_slots,
        |  count(cents) AS n_obs,
        |  CAST(sum(cents_locf) AS BIGINT) AS locf_mass,
        |  CAST(max(cents_locf) AS BIGINT) AS max_cents
        |FROM filled GROUP BY user_id""".stripMargin),

    // ---- T55: ordered string aggregation (listagg WITHIN GROUP) ---------
    Q("q154_listagg", (s, d) => {
      // Spark 4.0's listagg — the report-building aggregate every
      // warehouse port greps for (string_agg/group_concat elsewhere).
      // Two facets on one grain: a non-DISTINCT list ordered by a
      // NUMERIC key that is not the value (suppliers per nation — the
      // order key freedom), and a DISTINCT list (where SQL requires the
      // order key to BE the value, pinned here because engines differ
      // on enforcing it). Determinism discipline: every list is either
      // unique-keyed or DISTINCT-deduped, so the concatenated string
      // faces the hash compare; an unordered listagg would be
      // nondeterministic by construction and never ships. Scale: an
      // ordered listagg is a sort-based aggregate — per-group state is
      // the LIST (unbounded by default); capped lists (q113's
      // WindowGroupLimit) remain the 100-TB form when groups can be
      // hot.
      Tables.supplier(s, d).createOrReplaceTempView("graft_q154_supplier")
      s.sql(
        """SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
          |  listagg(CAST(s_suppkey AS STRING), ',')
          |    WITHIN GROUP (ORDER BY s_suppkey) AS suppliers,
          |  listagg(DISTINCT CAST(s_suppkey % 7 AS STRING), ',')
          |    WITHIN GROUP (ORDER BY CAST(s_suppkey % 7 AS STRING))
          |    AS mod_classes,
          |  CAST(count(*) AS BIGINT) AS n_supp
          |FROM graft_q154_supplier GROUP BY s_nationkey""".stripMargin)
    },
      // q154 mirror: string_agg with the ORDER BY inside the aggregate
      // (DuckDB's spelling of WITHIN GROUP)
      """SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |  string_agg(CAST(s_suppkey AS VARCHAR), ','
        |             ORDER BY s_suppkey) AS suppliers,
        |  string_agg(DISTINCT CAST(s_suppkey % 7 AS VARCHAR), ','
        |             ORDER BY CAST(s_suppkey % 7 AS VARCHAR))
        |    AS mod_classes,
        |  count(*) AS n_supp
        |FROM supplier GROUP BY s_nationkey""".stripMargin),

    // ---- T56: GROUPING SETS (arbitrary multi-grain aggregation) ---------
    Q("q155_grouping_sets", (s, d) => {
      // the general form q54's CUBE and rollup only sample: an ARBITRARY
      // set list — here the two single-column grains plus the pair,
      // deliberately WITHOUT the grand total (the shape cube cannot
      // express). grouping_id() disambiguates the NULL-as-group-marker
      // from a genuine NULL key, same discipline as q54. One scan, one
      // Expand (one input row fans out once per set — the documented
      // |sets|× shuffle cost shared with q148's multi-DISTINCT), one
      // aggregate. DuckDB runs near-identical text.
      Tables.lineitem(s, d).createOrReplaceTempView("graft_q155_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |  count(*) AS n,
          |  CAST(grouping_id() AS BIGINT) AS gid
          |FROM graft_q155_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |                        (l_returnflag), (l_linestatus))"""
          .stripMargin)
    },
      // q155 mirror: identical text modulo the view name and DuckDB's
      // two-argument GROUPING in place of grouping_id()
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), (l_linestatus))"""
        .stripMargin),

    // ---- T58: median + deterministic mode (order-statistic aggregates) --
    Q("q156_median_mode", (s, d) => {
      // the two order-statistic aggregates the T-family still lacked.
      // median: Spark's and DuckDB's interpolate identically (mean of
      // the two middles on even counts), and over INTEGER CENTS that
      // mean is a single exact IEEE operation — so a double faces the
      // hash compare safely (the q134 discipline). mode: the native
      // mode() is NONDETERMINISTIC under ties in both engines, so it
      // never ships; the deterministic spelling is counts + min_by over
      // a composite ordering (maximize cnt, tie → smallest user_id) ≡
      // DuckDB's row_number formulation — the [[spark-graft-oracle-
      // tricks]] tie-order pattern, here AS the operator. Scale: counts
      // are one map-side-combined aggregate; the arg-min another; the
      // join is |event_type|-row broadcast; median's sort is the honest
      // cost (exact order statistics need the value multiset — the
      // sketch tier (q130) is the 100-TB alternative when ±ε is
      // acceptable).
      Tables.events(s, d).createOrReplaceTempView("graft_q156_events")
      s.sql(
        """WITH cents AS (
          |  SELECT event_type, user_id,
          |         CAST(round(value * 100) AS BIGINT) AS c
          |  FROM graft_q156_events),
          |counts AS (
          |  SELECT event_type, user_id, count(*) AS cnt
          |  FROM cents GROUP BY event_type, user_id),
          |md AS (
          |  SELECT event_type,
          |    min_by(named_struct('u', user_id, 'c', cnt),
          |           named_struct('nc', -cnt, 'u', user_id)) AS m
          |  FROM counts GROUP BY event_type)
          |SELECT c.event_type, median(c.c) AS med_cents,
          |  md.m.u AS mode_user, md.m.c AS mode_cnt
          |FROM cents c JOIN md ON c.event_type = md.event_type
          |GROUP BY c.event_type, md.m.u, md.m.c""".stripMargin)
    },
      // q156 mirror: same counts, the arg-min spelled as row_number (the
      // tie-order equivalence), same interpolating median
      """WITH cents AS (
        |  SELECT event_type, user_id,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |counts AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM cents GROUP BY event_type, user_id),
        |md AS (
        |  SELECT event_type, user_id AS mode_user, cnt AS mode_cnt,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, user_id) AS rn
        |  FROM counts)
        |SELECT c.event_type, median(c.c) AS med_cents,
        |  md.mode_user, CAST(md.mode_cnt AS BIGINT) AS mode_cnt
        |FROM cents c JOIN md
        |  ON c.event_type = md.event_type AND md.rn = 1
        |GROUP BY c.event_type, md.mode_user, md.mode_cnt""".stripMargin),

    // ---- T59: bag-semantics set operations (INTERSECT/EXCEPT ALL) -------
    Q("q157_bag_setops", (s, d) => {
      // q25/q26 pin the DISTINCT set ops; these are their BAG twins,
      // and multiplicity is the entire claim: INTERSECT ALL keeps
      // min(m, n) copies of each row, EXCEPT ALL max(0, m − n) — the
      // semantics a dedup-accounting or diff query actually needs
      // (DISTINCT set ops silently collapse counts; porting users hit
      // the difference on day one). Counting per type makes the
      // multiplicities face the hash compare; identical SQL text runs
      // in DuckDB. Scale: both rewrite to a count-per-side aggregate +
      // generate (Spark: aggregate + replication via sum/sequence
      // under the hood) — one shuffle per side on the row value, no
      // pairwise join.
      Tables.events(s, d).createOrReplaceTempView("graft_q157_events")
      s.sql(
        """SELECT 'ia' AS op, event_type, CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT event_type FROM graft_q157_events WHERE value > 150
          |      INTERSECT ALL
          |      SELECT event_type FROM graft_q157_events WHERE user_id < 500)
          |GROUP BY event_type
          |UNION ALL
          |SELECT 'ea' AS op, event_type, CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT event_type FROM graft_q157_events WHERE value > 150
          |      EXCEPT ALL
          |      SELECT event_type FROM graft_q157_events WHERE user_id < 500)
          |GROUP BY event_type""".stripMargin)
    },
      // q157 mirror: identical text modulo the view name
      """SELECT 'ia' AS op, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT event_type FROM events WHERE value > 150
        |      INTERSECT ALL
        |      SELECT event_type FROM events WHERE user_id < 500)
        |GROUP BY event_type
        |UNION ALL
        |SELECT 'ea' AS op, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT event_type FROM events WHERE value > 150
        |      EXCEPT ALL
        |      SELECT event_type FROM events WHERE user_id < 500)
        |GROUP BY event_type""".stripMargin),

    // ---- T60: NULL ordering + OFFSET pagination --------------------------
    Q("q158_nulls_offset_page", (s, d) => {
      // two porting traps in one query. (1) NULL placement: Spark's
      // ascending default is NULLS FIRST, DuckDB's is NULLS LAST — the
      // SAME unannotated ORDER BY returns different pages, so portable
      // SQL must say it explicitly; both explicit legs are pinned here
      // cross-engine. (2) OFFSET pagination: deterministic ONLY over a
      // total order (the unique event_id tiebreak), and the scale
      // story is the anti-pattern itself — OFFSET n discards n sorted
      // rows AFTER the global sort, so page depth costs O(offset +
      // limit) every page; at 100 TB the scalable form is KEYSET
      // pagination (WHERE (score, id) > (last_score, last_id) ORDER BY
      // ... LIMIT k — an indexable/skippable predicate, constant per
      // page). This query ships the portable spelling and documents
      // the trade; the engine cost is visible in the plan (global Sort
      // + GlobalLimit with offset, single-stream cut).
      Tables.events(s, d).createOrReplaceTempView("graft_q158_events")
      s.sql(
        """WITH t AS (
          |  SELECT event_id,
          |    CASE WHEN event_id % 7 = 0 THEN NULL
          |         ELSE CAST(round(value * 100) AS BIGINT) END AS score
          |  FROM graft_q158_events WHERE event_id < 2000)
          |SELECT 'nf' AS leg, event_id, score FROM (
          |  SELECT event_id, score FROM t
          |  ORDER BY score ASC NULLS FIRST, event_id LIMIT 40 OFFSET 80)
          |UNION ALL
          |SELECT 'nl' AS leg, event_id, score FROM (
          |  SELECT event_id, score FROM t
          |  ORDER BY score ASC NULLS LAST, event_id LIMIT 40 OFFSET 80)"""
          .stripMargin)
    },
      // q158 mirror: identical text — which is the point: only the
      // EXPLICIT NULLS FIRST/LAST spelling is portable (the engines'
      // unannotated ascending defaults differ)
      """WITH t AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         ELSE CAST(round(value * 100) AS BIGINT) END AS score
        |  FROM events WHERE event_id < 2000)
        |SELECT 'nf' AS leg, event_id, score FROM (
        |  SELECT event_id, score FROM t
        |  ORDER BY score ASC NULLS FIRST, event_id LIMIT 40 OFFSET 80)
        |UNION ALL
        |SELECT 'nl' AS leg, event_id, score FROM (
        |  SELECT event_id, score FROM t
        |  ORDER BY score ASC NULLS LAST, event_id LIMIT 40 OFFSET 80)"""
        .stripMargin),

    // ---- T61: triangle counting (degree-oriented wedge join) ------------
    Q("q159_triangle_count", (s, d) => {
      // the third graph operator (q71 components, q109 centrality):
      // per-node triangle counts — the clustering-coefficient numerator
      // and the standard cohesion feature for link-graph curation. The
      // graph is the supplier CO-SUPPLY graph (edge ⇔ two suppliers
      // ship the same part — derived from lineitem, so it is unipartite
      // and genuinely triangle-bearing, unlike q109's bipartite trade
      // graph). Co-occurrence needs a TIGHT window or it degenerates:
      // bare same-part co-supply is near-COMPLETE on this data (~30
      // suppliers per part ⇒ ~C(1000,2) edges at sf0.1 — measured, the
      // bench cell ground for 2 minutes on ~10⁸ wedges), the same
      // reason co-occurrence graphs drop stopwords (L53/q114); keyed
      // on (part, ship WEEK) the per-key fanout is ≤ 4 and the graph
      // is genuinely sparse (~25k edges / 1000 nodes at sf0.1). The
      // engine claim is the ALGORITHM, not just the answer:
      // GraphOps.triangleCounts orients edges by (deg, id) rank and
      // generates wedges only from out-neighborhoods — Σ outdeg² ≤
      // O(m^1.5) total regardless of hub degree (the arboricity bound),
      // where the naive neighbor-pairing the DuckDB mirror runs is
      // Σ deg² (hub-quadratic, fine at oracle scale, fatal at 100 TB).
      // Same answer, different join volume — that asymmetry is the
      // point, and each triangle is found exactly once (no /3 fixup).
      GraphOps.triangleCounts(coSupplyEdges(s, d))
        .select(col("v").as("s_suppkey"), col("deg"), col("n_tri"))
    },
      // q159 mirror: the TEXTBOOK formulation — x<y<z three-way self-join
      // finds each triangle once, each corner credited via UNION ALL;
      // naive neighbor pairing is fine at oracle scale (the oriented
      // form's O(m^1.5) bound is the Spark side's 100-TB claim)
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, date_trunc('week', l_shipdate) AS w,
        |    l_suppkey
        |  FROM lineitem),
        |e AS (
        |  SELECT DISTINCT p1.l_suppkey AS a, p2.l_suppkey AS b
        |  FROM ps p1 JOIN ps p2
        |    ON p1.l_partkey = p2.l_partkey AND p1.w = p2.w
        |  WHERE p1.l_suppkey < p2.l_suppkey),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY v),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS v FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |pn AS (SELECT v, count(*) AS n_tri FROM corners GROUP BY v)
        |SELECT d.v AS s_suppkey, d.deg,
        |  CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri
        |FROM deg d LEFT JOIN pn ON d.v = pn.v""".stripMargin),

    // ---- T68: local clustering coefficient ------------------------------
    Q("q167_clustering_coeff", (s, d) => {
      // q159's (deg, n_tri) completed into the coefficient — the
      // density-vs-mass graph signal (a hub with many non-adjacent
      // neighbors scores 0; a clique member scores 1): c(v) =
      // 2·n_tri/(deg·(deg−1)), ONE exact IEEE division over exact
      // BIGINTs, NULL where deg < 2 (undefined, not zero). Same
      // oriented O(m^1.5) wedge join underneath; the DuckDB mirror
      // runs the naive three-join + the same division.
      GraphOps.clusteringCoefficients(coSupplyEdges(s, d))
        .select(col("v").as("s_suppkey"), col("deg"), col("n_tri"),
          col("coeff"))
    },
      // q167 mirror: q159's naive triangle join + the one IEEE division
      // of the coefficient (exact BIGINT operands, correctly rounded the
      // same on both engines); NULL where deg < 2
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, date_trunc('week', l_shipdate) AS w,
        |    l_suppkey
        |  FROM lineitem),
        |e AS (
        |  SELECT DISTINCT p1.l_suppkey AS a, p2.l_suppkey AS b
        |  FROM ps p1 JOIN ps p2
        |    ON p1.l_partkey = p2.l_partkey AND p1.w = p2.w
        |  WHERE p1.l_suppkey < p2.l_suppkey),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY v),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS v FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |pn AS (SELECT v, count(*) AS n_tri FROM corners GROUP BY v)
        |SELECT d.v AS s_suppkey, d.deg,
        |  CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN d.deg >= 2 THEN
        |    CAST(coalesce(pn.n_tri, 0) * 2 AS DOUBLE)
        |      / CAST(d.deg * (d.deg - 1) AS DOUBLE)
        |  END AS coeff
        |FROM deg d LEFT JOIN pn ON d.v = pn.v""".stripMargin),

    // ---- T69: fixed-horizon k-core peeling -------------------------------
    Q("q168_kcore", (s, d) => {
      // k-core membership after a FIXED peel horizon over the co-supply
      // graph (GraphOps.kCorePeel: driver-orchestrated by engine
      // restriction — each round aggregates degrees over the recursive
      // frontier, exactly what UnionLoop rejects; q109's discipline).
      // k=36 sits INSIDE this near-regular graph's degree distribution,
      // so peeling genuinely cascades (sf0.01: 100 → 71 → 9 nodes; the
      // full peel collapses to an EMPTY 36-core — the fragility the
      // fixed horizon makes observable, and why the horizon is the
      // contract rather than convergence). The DuckDB mirror unrolls
      // the same two rounds as CTE stages — identical induced
      // subgraphs, identical survivor degrees.
      GraphOps.kCorePeel(coSupplyEdges(s, d), k = 36L, rounds = 2)
        .select(col("v").as("s_suppkey"), col("deg"))
    },
      // q168 mirror: the SAME two peel rounds unrolled as CTE stages —
      // degrees over e0 gate e1, degrees over e1 gate e2, survivors
      // reported with their e2-induced degrees
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, date_trunc('week', l_shipdate) AS w,
        |    l_suppkey
        |  FROM lineitem),
        |e0 AS (
        |  SELECT DISTINCT p1.l_suppkey AS a, p2.l_suppkey AS b
        |  FROM ps p1 JOIN ps p2
        |    ON p1.l_partkey = p2.l_partkey AND p1.w = p2.w
        |  WHERE p1.l_suppkey < p2.l_suppkey),
        |d0 AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)
        |  GROUP BY v),
        |k0 AS (SELECT v FROM d0 WHERE deg >= 36),
        |e1 AS (
        |  SELECT e.a, e.b FROM e0 e
        |  JOIN k0 x ON e.a = x.v JOIN k0 y ON e.b = y.v),
        |d1 AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e1 UNION ALL SELECT b AS v FROM e1)
        |  GROUP BY v),
        |k1 AS (SELECT v FROM d1 WHERE deg >= 36),
        |e2 AS (
        |  SELECT e.a, e.b FROM e1 e
        |  JOIN k1 x ON e.a = x.v JOIN k1 y ON e.b = y.v)
        |SELECT v AS s_suppkey, count(*) AS deg FROM (
        |  SELECT a AS v FROM e2 UNION ALL SELECT b AS v FROM e2)
        |GROUP BY v""".stripMargin),

    // ---- T70: SQL TABLE functions (CREATE FUNCTION ... RETURNS TABLE) ---
    Q("q169_table_function", (s, d) => {
      // the table-valued half of q152's registry tier: a SQL-language
      // UDTF (Spark 4) whose body is a full query — here the house
      // chunk-grid reshape (one row per stride start, the q60 chunker's
      // generator) — invoked CORRELATED via LATERAL against each doc's
      // token count. Like the scalar tier, the body INLINES into the
      // plan at analysis: no opaque eval node, the generator fuses into
      // the lateral join exactly as if written longhand (PlanAuditSpec
      // machine-asserts: a Generate/explode node present, no
      // ScalaUDF/InvokeLike, plan ≡ the longhand's shape). Stride 30 /
      // window 60 deliberately differ from q60's 40/50 so the two
      // results stay distinguishable. Oracle: the longhand
      // generate_series form — which is what "inlined" means.
      s.sql(
        s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_chunk_grid(n BIGINT)
           |RETURNS TABLE (chunk_id BIGINT, start BIGINT)
           |RETURN SELECT CAST((s - 1) DIV $TfChunkStride AS BIGINT)
           |    AS chunk_id,
           |  CAST(s AS BIGINT) AS start
           |FROM (SELECT explode(sequence(1, n, $TfChunkStride)) AS s)"""
          .stripMargin)
      Tables.documents(s, d)
        .select(col("doc_id"), expr(TextOps.tokensSpark("text")).as("toks"))
        .createOrReplaceTempView("graft_q169_toks")
      s.sql(
        s"""SELECT t.doc_id, g.chunk_id, g.start,
           |  CAST(size(slice(t.toks, CAST(g.start AS INT), $TfChunkTokens))
           |    AS BIGINT) AS n_chunk_tokens,
           |  md5(array_join(slice(t.toks, CAST(g.start AS INT),
           |    $TfChunkTokens), ' ')) AS chunk_md5
           |FROM graft_q169_toks t,
           |  LATERAL graft_chunk_grid(size(t.toks)) g""".stripMargin)
    },
      // q169 mirror: the LONGHAND form of the table function — the grid
      // generator written out as generate_series+unnest, which is what
      // "the UDTF body inlines" means semantically
      s"""SELECT doc_id,
         |  CAST((start - 1) // $TfChunkStride AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS start,
         |  CAST(len(list_slice(toks, start,
         |    least(start + ${TfChunkTokens - 1}, n))) AS BIGINT)
         |    AS n_chunk_tokens,
         |  md5(array_to_string(list_slice(toks, start,
         |    least(start + ${TfChunkTokens - 1}, n)), ' ')) AS chunk_md5
         |FROM (
         |  SELECT doc_id, toks, n,
         |         unnest(generate_series(1, n, $TfChunkStride)) AS start
         |  FROM (SELECT doc_id, ${TextOps.tokensDuck("text")} AS toks,
         |               len(${TextOps.tokensDuck("text")}) AS n
         |        FROM documents))""".stripMargin),

    // ---- T72: change-data-feed between table snapshots ------------------
    Q("q171_manifest_cdf", (s, d) => {
      // CDF off [[graft.sources.ManifestedTable]]'s version manifests:
      // v1 = an order-book snapshot, v2 = the next one with deletes
      // (key % 7 = 0), updates (+100 cents on key % 5 = 0) and inserts
      // (the key % 4 = 3 stratum) — the CDF must emit exactly the
      // delete images, both update images, and the inserts, bag
      // semantics. The Spark side computes it FROM THE MANIFESTS
      // (changesBetween — file-granular pruning at scale, see its
      // scaladoc); the oracle recomputes the same diff purely
      // relationally with EXCEPT ALL. Equality proves the table-level
      // machinery returns exactly the logical row diff.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_cdf") { case Seq(dir) =>
        val base = ordersCents(s, d)
        val v1df = base.filter(col("o_orderkey") % 4 < 3)
        val v2df = base
          .filter(col("o_orderkey") % 4 < 3 && !(col("o_orderkey") % 7 === 0))
          .withColumn("price_cents",
            when(col("o_orderkey") % 5 === 0, col("price_cents") + 100)
              .otherwise(col("price_cents")))
          .unionAll(base.filter(col("o_orderkey") % 4 === 3))
        val v1 = ManifestedTable.write(v1df, dir, overwrite = true)
        val v2 = ManifestedTable.write(v2df, dir, overwrite = true)
        val (added, removed) = ManifestedTable.changesBetween(s, dir, v1, v2)
        added.withColumn("change", lit("add"))
          .unionAll(removed.withColumn("change", lit("remove")))
      }()
    },
      // q171 mirror: the same two snapshot images derived relationally,
      // diffed with EXCEPT ALL — deliberately oblivious to manifests and
      // files; equality proves changesBetween returns exactly the
      // logical bag diff
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE o_orderkey % 4 < 3),
        |v2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 100
        |              ELSE price_cents END AS price_cents
        |  FROM base WHERE o_orderkey % 4 < 3 AND NOT (o_orderkey % 7 = 0)
        |  UNION ALL
        |  SELECT * FROM base WHERE o_orderkey % 4 = 3)
        |SELECT o_orderkey, o_custkey, price_cents, 'add' AS change
        |FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, price_cents, 'remove' AS change
        |FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)""".stripMargin),

    // ---- T62: schema-drift union (unionByName + missing columns) --------
    Q("q160_union_by_name", (s, d) => {
      // the corpus-snapshot reality q68's mergeSchema covers at the
      // FILE level, here at the FRAME level: two snapshots whose
      // schemas drifted (v1 carries n_chars, v2 replaced it with
      // source) must union BY NAME — positional UNION ALL would
      // silently zip n_chars against source (same arity, both
      // readable as strings = the nastiest kind of wrong) — with
      // absent columns null-filled. Spark: unionByName(…,
      // allowMissingColumns = true); DuckDB runs UNION ALL BY NAME,
      // the same semantics natively in SQL. The per-lang counts of
      // each column's presence pin the NULL-fill pattern exactly.
      // Scale: union is a zero-shuffle plan node; only the final
      // aggregate exchanges.
      val docs = Tables.documents(s, d)
      val v1 = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val v2 = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          count(col("source")).as("n_with_source"))
    },
      // q160 mirror: DuckDB's native UNION ALL BY NAME — the same
      // null-fill-by-name semantics Spark spells allowMissingColumns
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, count(*) AS n,
        |  count(n_chars) AS n_with_chars,
        |  count(source) AS n_with_source
        |FROM u GROUP BY lang""".stripMargin),

    // ---- T63: bitmap exact-distinct re-aggregation ----------------------
    Q("q161_bitmap_distinct", (s, d) => {
      // the EXACT member of the mergeable-distinct family q112's HLL
      // approximates: Spark's bitmap tier (SPARK-44154) packs integer
      // keys into 4 KB/32768-bit bucket bitmaps —
      // bitmap_construct_agg(bitmap_bit_position(k)) per (group, day,
      // bucket) is the partial any engine can persist, and
      // bitmap_or_agg re-aggregates across days EXACTLY (OR is
      // idempotent — the same user on ten days is one bit), so
      // sum(bitmap_count) over merged buckets IS count(DISTINCT k)
      // with no error bound and no rescan of history. The trade vs
      // HLL is the 100-TB story: bitmap state is O(key-range/8 bytes)
      // per group — exact and mergeable when keys are dense integers
      // (user ids here), hopeless for sparse 64-bit spaces where
      // HLL's fixed KBs win; a pipeline needs BOTH, and the oracle
      // pins this one against the plain DISTINCT (bucket counts
      // included, so the packing itself is checked).
      Tables.events(s, d).createOrReplaceTempView("graft_q161_events")
      s.sql(
        """WITH partials AS (
          |  SELECT event_type, to_date(ts) AS day,
          |    bitmap_bucket_number(user_id) AS bkt,
          |    bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          |  FROM graft_q161_events GROUP BY 1, 2, 3),
          |merged AS (
          |  SELECT event_type, bkt, bitmap_or_agg(bm) AS bm
          |  FROM partials GROUP BY 1, 2)
          |SELECT event_type,
          |  CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_users,
          |  CAST(count(*) AS BIGINT) AS n_buckets
          |FROM merged GROUP BY event_type""".stripMargin)
    },
      // q161 mirror: the plain DISTINCT the bitmap machinery must equal,
      // bucket counts included. Spark's bitmap_bucket_number(x) is
      // FLOOR((x−1)/32768)+1 — 1-indexed positions, so id 0 falls in its
      // own bucket below ids 1..32768 (measured: the naive x//32768
      // mirror undercounts by exactly that bucket, and DuckDB's //
      // TRUNCATES toward zero where Spark floors — the oracle-tricks
      // pmod-subtraction identity makes the floor exact at x−1 = −1)
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT ((user_id - 1) -
        |    (((user_id - 1) % 32768 + 32768) % 32768)) // 32768)
        |    AS n_buckets
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- T64: calendar arithmetic edges ---------------------------------
    Q("q162_calendar_edges", (s, d) => {
      // the date-math porting traps, pinned row-level over real order
      // dates (the span covers leap years and every month-end):
      // add_months CLAMPS at month ends (Jan 31 + 1 month = Feb 28/29 —
      // both engines agree, but only because both clamp; engines that
      // overflow into March diverge here), last_day, quarter
      // date_trunc, and the day-of-week numbering trap — Spark's
      // dayofweek is 1-based Sunday-first while DuckDB's dayofweek is
      // 0-based: the portable meeting point is ISO (Monday=1), reached
      // as Spark weekday()+1 ≡ DuckDB isodow(). Date outputs ship as
      // ISO strings (CAST to STRING is 'YYYY-MM-DD' in both engines),
      // keeping the driver compare to proven dtypes. DISTINCT dates
      // keep the row count calendar-bounded.
      Tables.orders(s, d).createOrReplaceTempView("graft_q162_orders")
      s.sql(
        """SELECT DISTINCT
          |  CAST(o_orderdate AS STRING) AS dt,
          |  CAST(add_months(o_orderdate, 1) AS STRING) AS next_month,
          |  CAST(last_day(o_orderdate) AS STRING) AS month_end,
          |  CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE)
          |    AS STRING) AS quarter_start,
          |  CAST(weekday(o_orderdate) + 1 AS BIGINT) AS iso_dow
          |FROM graft_q162_orders WHERE o_orderkey < 4000""".stripMargin)
    },
      // q162 mirror: + INTERVAL 1 MONTH is DuckDB's clamping add_months;
      // isodow is the ISO day Spark reaches as weekday()+1
      """SELECT DISTINCT
        |  CAST(o_orderdate AS VARCHAR) AS dt,
        |  CAST(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS VARCHAR)
        |    AS next_month,
        |  CAST(last_day(o_orderdate) AS VARCHAR) AS month_end,
        |  CAST(date_trunc('quarter', o_orderdate) AS VARCHAR)
        |    AS quarter_start,
        |  CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow
        |FROM orders WHERE o_orderkey < 4000""".stripMargin),

    // ---- T65: spatial grid neighbor join (2-D band-then-verify) ---------
    Q("q163_spatial_neighbors", (s, d) => {
      // the 2-D member of the band-then-verify family (T2 buckets 1-D
      // time, q108 bands strings): all point pairs within Euclidean
      // radius r, via 3x3 grid-cell candidate generation + exact
      // integer d² verify (SpatialOps.neighborPairs — the operator the
      // reference's rectangle-filter-only geo surface lacks). Points
      // are a deterministic integer lattice scramble of customer keys
      // (k·48271 mod 99991, k·69621 mod 99991) — pure arithmetic both
      // engines compute identically, standing in for fixed-point
      // microdegree site coordinates. The modulus is PRIME for
      // ScaleBench's sake: replica keys stride by 1e6, and a 1e5
      // modulus would land every replica on the exact same points
      // (1e6·48271 ≡ 0 mod 1e5 — the cell would measure coordinate
      // copies); mod 99991 each replica shifts by 44777, so the cell
      // honestly measures density growth. The DuckDB mirror deliberately
      // runs the NAIVE all-pairs filter join (fine at oracle scale):
      // same answer, |points|² vs cell-bounded candidate volume is the
      // documented asymmetry, exactly q159's oracle philosophy. Closed
      // ball (d² ≤ r²) so boundary pairs match; grid ≡ brute force is
      // property-tested in GraftProps on adversarial point sets
      // (negative coordinates, duplicates, exact-boundary pairs).
      val pts = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        (col("c_custkey") * lit(48271L) % lit(99991L)).as("x"),
        (col("c_custkey") * lit(69621L) % lit(99991L)).as("y"))
      SpatialOps.neighborPairs(pts, radius = 4000L)
        .select(col("id_a"), col("id_b"), col("d2").cast("long").as("d2"))
    },
      // q163 mirror: the NAIVE all-pairs distance filter — |points|² pair
      // evaluations, fine at oracle scale; the Spark side's grid banding
      // bounds candidates by cell occupancy (same answer, different
      // volume — the q159 oracle philosophy in 2-D)
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    (c_custkey * 48271) % 99991 AS x,
        |    (c_custkey * 69621) % 99991 AS y
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST((a.x - b.x) * (a.x - b.x)
        |     + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x)
        |    + (a.y - b.y) * (a.y - b.y) <= 16000000""".stripMargin),

    // ---- T67: kNN join (expanding grid rings + rank cut) -----------------
    Q("q166_knn_join", (s, d) => {
      // k-nearest-per-probe over q163's integer point lattice — the
      // spatial join shape a fixed radius can't emulate when density
      // varies (SpatialOps.knnJoin: ring-1 dense path settles probes
      // whose k-th candidate is provably within one cell; only the
      // sparse tail expands to the full ring horizon). The contract is
      // (k=5, horizon=16000) ONLY — the grid is auto-sized from data
      // density (~2k hosts per cell), so the same query re-grids finer
      // as the corpus densifies instead of paying density per probe
      // (ScaleBench measured the fixed-cell form at β ≈ 1.9; the
      // auto-grid is the production answer). At sf0.01's density the
      // corpus still SPLITS across the two paths, so the oracle
      // compare exercises both and the union seam. The DuckDB mirror
      // runs the naive all-pairs rank — same answer, |points|² vs
      // ~k·|probes| candidates is the documented asymmetry. Grid ≡
      // brute force (ties, negatives, sparse clusters, auto + explicit
      // cells) is property-tested in GraftProps.
      val pts = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        (col("c_custkey") * lit(48271L) % lit(99991L)).as("x"),
        (col("c_custkey") * lit(69621L) % lit(99991L)).as("y"))
      SpatialOps.knnJoin(pts, pts, k = 5, horizon = 16000L)
    },
      // q166 mirror: the NAIVE form — all-pairs distances, horizon filter,
      // rank per probe; the Spark side's two-phase ring expansion is the
      // density-bounded path (same answer, tie order (d2, neighbor_id)
      // pinned on both sides)
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    (c_custkey * 48271) % 99991 AS x,
        |    (c_custkey * 69621) % 99991 AS y
        |  FROM customer),
        |cand AS (
        |  SELECT a.id AS probe_id, b.id AS neighbor_id,
        |    CAST((a.x - b.x) * (a.x - b.x)
        |       + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
        |  FROM p a JOIN p b ON a.id <> b.id
        |  WHERE (a.x - b.x) * (a.x - b.x)
        |      + (a.y - b.y) * (a.y - b.y) <= 256000000),
        |ranked AS (
        |  SELECT probe_id, neighbor_id, d2,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY d2, neighbor_id) AS BIGINT) AS rk
        |  FROM cand)
        |SELECT probe_id, neighbor_id, d2, rk FROM ranked
        |WHERE rk <= 5""".stripMargin),

    // ---- T75: incremental aggregate maintenance off the CDF -------------
    Q("q175_incremental_mv", (s, d) => {
      // materialized-view maintenance as delta application — the
      // composition T72 exists to enable: the MV is an additive
      // aggregate (per-customer order count + cents) over snapshot v1;
      // when the table moves to v2, the refresh consumes ONLY the CDF
      // (added rows count +1/+cents, removed rows −1/−cents — a
      // mutated row's two images cancel in count and adjust the sum),
      // re-aggregates, and drops groups whose count reaches zero
      // (fully-deleted customers must VANISH, not linger at 0). The
      // oracle recomputes the aggregate directly from the v2 image:
      // equality IS the delta-apply ≡ recompute theorem, the T36
      // discipline lifted from SCD2 rows to additive aggregates.
      // Scale: the refresh shuffles |groups| + |changes| rows — never
      // the unchanged data mass, which changesBetween never even
      // reads (its file-granular pruning).
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_mv") { case Seq(dir) =>
        val base = ordersCents(s, d)
        // deletions: key % 7, PLUS the entire custkey % 211 = 5 stratum
        // (and those customers get no inserts either) — q171's recipe
        // alone never empties a customer at sf0.01, which would leave
        // the drop-to-zero branch oracle-unexercised
        val v1df = base.filter(col("o_orderkey") % 4 < 3)
        val v2df = base
          .filter(col("o_orderkey") % 4 < 3 && !(col("o_orderkey") % 7 === 0)
            && !(col("o_custkey") % 211 === 5))
          .withColumn("price_cents",
            when(col("o_orderkey") % 5 === 0, col("price_cents") + 100)
              .otherwise(col("price_cents")))
          .unionAll(base.filter(col("o_orderkey") % 4 === 3
            && !(col("o_custkey") % 211 === 5)))
        val v1 = ManifestedTable.write(v1df, dir, overwrite = true)
        val v2 = ManifestedTable.write(v2df, dir, overwrite = true)
        val mv1 = ManifestedTable.readAt(s, dir, v1)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), sum(col("price_cents")).as("cents"))
        val (added, removed) = ManifestedTable.changesBetween(s, dir, v1, v2)
        mv1.select(col("o_custkey"), col("n_orders"), col("cents"))
          .unionAll(added.select(col("o_custkey"), lit(1L),
            col("price_cents")))
          .unionAll(removed.select(col("o_custkey"), lit(-1L),
            -col("price_cents")))
          .groupBy(col("o_custkey"))
          .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))
          .filter(col("n_orders") > 0)
      }()
    },
      // q175 mirror: the DIRECT aggregate over the v2 image — no MV, no
      // delta; equality is the delta-apply ≡ recompute theorem (BIGINT
      // cast pins DuckDB's HUGEINT sum back to the shared dtype)
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 100
        |              ELSE price_cents END AS price_cents
        |  FROM base WHERE o_orderkey % 4 < 3 AND NOT (o_orderkey % 7 = 0)
        |    AND NOT (o_custkey % 211 = 5)
        |  UNION ALL
        |  SELECT * FROM base
        |  WHERE o_orderkey % 4 = 3 AND NOT (o_custkey % 211 = 5))
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(price_cents) AS BIGINT) AS cents
        |FROM v2 GROUP BY o_custkey""".stripMargin),

    // ---- T76: row-level MERGE (copy-on-write upsert) ---------------------
    Q("q176_merge_upsert", (s, d) => {
      // MERGE INTO as a table OPERATION, completing the manifest
      // tier's DML surface (T72 reads row changes, T75 consumes them,
      // THIS writes them): the scratch order book becomes a manifested
      // table laid out key-clustered (repartitionByRange, so the
      // copy-on-write file pruning below is non-trivial — matched keys
      // concentrate in few files), then a delta merges in: price
      // corrections (+5000 cents on the key % 7 = 2 stratum) REPLACE
      // their rows, late bookings (keys shifted +107e6, past any
      // ScaleBench replica stride) INSERT, and every file holding no
      // matched key rides into the new snapshot BY REFERENCE —
      // CompactionSpec pins the file-level claim (untouched paths +
      // mtimes identical, removed set == exactly the touched files);
      // the oracle pins the row-level one: the post-merge table equals
      // the relational upsert image src ⊎ (base ∖ src-keys). Scale:
      // find-touched is a key-column scan + semi join (composable with
      // q131 min-max pruning); the rewrite moves only touched files +
      // the delta; publication is one manifest rename.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_merge") { case Seq(dir) =>
        val base = ordersCents(s, d)
        ManifestedTable.write(
          base.repartitionByRange(8, col("o_orderkey")), dir)
        val source = base.filter(col("o_orderkey") % 7 === 2)
          .withColumn("price_cents", col("price_cents") + 5000L)
          .unionAll(base.filter(col("o_orderkey") % 13 === 1)
            // +107e6: above any ScaleBench replica stride (q164's rule),
            // so scaled replicas' inserts never collide with base keys
            .withColumn("o_orderkey", col("o_orderkey") + 107000000L))
        ManifestedTable.merge(s, dir, source, Seq("o_orderkey"))
        ManifestedTable.read(s, dir)
      }()
    },
      // q176 mirror: the relational upsert image — src wins, base keys
      // not in src pass through; equality proves the copy-on-write MERGE
      // (file pruning, partial rewrite, manifest swap) returns exactly
      // the logical upsert
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_custkey, price_cents + 5000 AS price_cents
        |  FROM base WHERE o_orderkey % 7 = 2
        |  UNION ALL
        |  SELECT o_orderkey + 107000000 AS o_orderkey, o_custkey, price_cents
        |  FROM base WHERE o_orderkey % 13 = 1)
        |SELECT o_orderkey, o_custkey, price_cents FROM src
        |UNION ALL
        |SELECT b.o_orderkey, b.o_custkey, b.price_cents FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM src s
        |                  WHERE s.o_orderkey = b.o_orderkey)""".stripMargin),

    // ---- T77: row-level DELETE WHERE (three-valued predicate) -----------
    Q("q177_delete_where", (s, d) => {
      // DELETE's SQL semantics pinned through the hash compare: rows
      // are removed where the predicate is TRUE — FALSE **and NULL**
      // rows survive, the three-valued edge a naive !cond rewrite gets
      // wrong (NOT NULL is NULL, which a filter drops). The fixture
      // NULLs score on the key % 11 = 0 stratum, so the predicate
      // score > 2·10^7 faces genuine UNKNOWN rows and the oracle's
      // explicit `score IS NULL OR NOT (...)` spelling must agree
      // row-for-row. Copy-on-write as in q176: only files holding a
      // TRUE row rewrite (with the null-safe negation); a no-match
      // delete commits nothing.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_del") { case Seq(dir) =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_custkey"),
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint").as("score"))
        ManifestedTable.write(
          base.repartitionByRange(8, col("o_orderkey")), dir)
        ManifestedTable.deleteWhere(s, dir, col("score") > 20000000L)
        ManifestedTable.read(s, dir)
      }()
    },
      // q177 mirror: DELETE's survivors spelled with the explicit
      // null-keeping disjunction — NULL scores are UNKNOWN under the
      // predicate and must SURVIVE
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |         ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS score
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, score FROM base
        |WHERE score IS NULL OR NOT (score > 20000000)""".stripMargin),

    // ---- T79: CDC replication (CDF-apply keeps a follower exact) ---------
    Q("q178_cdc_replicate", (s, d) => {
      // the cross-table composition the manifest tier builds to — a
      // FOLLOWER table tracks a leader through its change feed alone
      // (cross-region replicas, downstream marts, disaster copies):
      // leader moves v1 → v2 (deletes, updates, inserts — q171's
      // recipe); the follower, bootstrapped from the v1 snapshot and
      // key-clustered so the delta-apply's copy-on-write pruning is
      // non-trivial, consumes ONLY changesBetween's row images —
      // added rows MERGE in (updates replace, inserts land), keys
      // removed-and-not-re-added DELETE out (deleteMatching, the
      // key-IN-subquery form) — and must then EQUAL the leader's v2
      // image row-for-row, which is exactly what the oracle checks
      // (the replication-correctness theorem; T36/T75's delta-apply ≡
      // recompute discipline lifted to whole-table DML). Scale: the
      // CDF never reads unchanged leader files, and the apply
      // rewrites only the follower files holding changed keys — the
      // unchanged mass moves ZERO bytes on either side.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_cdcl", "graft_cdcf") { case Seq(ldir, fdir) =>
        val base = ordersCents(s, d)
        val v1df = base.filter(col("o_orderkey") % 4 < 3)
        val v2df = base
          .filter(col("o_orderkey") % 4 < 3 && !(col("o_orderkey") % 7 === 0))
          .withColumn("price_cents",
            when(col("o_orderkey") % 5 === 0, col("price_cents") + 100)
              .otherwise(col("price_cents")))
          .unionAll(base.filter(col("o_orderkey") % 4 === 3))
        val v1 = ManifestedTable.write(v1df, ldir, overwrite = true)
        val v2 = ManifestedTable.write(v2df, ldir, overwrite = true)
        ManifestedTable.write(ManifestedTable.readAt(s, ldir, v1)
          .repartitionByRange(8, col("o_orderkey")), fdir)
        // materialize the change feed ONCE before applying it: merge
        // consumes its source several times (cardinality+bounds agg,
        // find-touched semi join, the rewrite union) and deleteMatching
        // adds two more — each consumption of a raw changesBetween frame
        // re-ran the whole two-sided exceptAll diff (the q197 lesson,
        // across DML boundaries). A CDC batch is delta-sized, so the
        // eager checkpoint is O(changes), never O(table).
        val (added0, removed0) = ManifestedTable.changesBetween(s, ldir, v1, v2)
        val added = added0.localCheckpoint(true)
        val removedKeys = removed0.select("o_orderkey")
          .except(added.select("o_orderkey")).localCheckpoint(true)
        ManifestedTable.merge(s, fdir, added, Seq("o_orderkey"))
        ManifestedTable.deleteMatching(s, fdir, removedKeys)
        ManifestedTable.read(s, fdir)
      }()
    },
      // q178 mirror: the leader's v2 image DIRECTLY (q171's v2 CTE) —
      // equality is the replication theorem: CDF-apply (merge + keyed
      // delete) left the follower exactly at the leader's snapshot
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 100
        |            ELSE price_cents END AS price_cents
        |FROM base WHERE o_orderkey % 4 < 3 AND NOT (o_orderkey % 7 = 0)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, price_cents
        |FROM base WHERE o_orderkey % 4 = 3""".stripMargin),

    // ---- T11 extension: graft-avro connector end-to-end, oracle-checked --
    Q("q179_avro_pipeline", (s, d) => {
      // the DSv2 connector as a QUERY surface, not just a spec: events
      // round-trip through graft-avro (real commit protocol, stats
      // sidecar published at job commit), read back through the
      // connector with a pushed filter — so the whole stack is in the
      // oracle-checked path: micros-timestamp logical-type fidelity,
      // authoritative row-level filter eval (nothing re-checks),
      // interval/bloom file skipping, column pruning. The oracle
      // computes the same aggregate from the parquet table directly;
      // hash equality proves the round trip value-faithful including
      // the timestamp micros (unix_seconds ≡ date_diff both engines).
      core.Materialize.scratch(s, "graft_avroq") { case Seq(dir) =>
        val ev = Tables.events(s, d).select(col("event_id"), col("ts"),
          col("user_id"), col("event_type"), col("value"))
        ev.write.format("graft-avro").mode("overwrite").save(dir)
        s.read.format("graft-avro").load(dir)
          .filter(col("user_id") < 400)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
            min(expr("unix_seconds(ts)")).as("lo_s"),
            max(expr("unix_seconds(ts)")).as("hi_s"))
      }()
    },
      // q179 mirror: the same aggregate straight off the parquet table —
      // equality proves the avro round trip value-faithful (micros
      // timestamps via unix_seconds ≡ date_diff('second', epoch, ts))
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(min(date_diff('second',
        |    TIMESTAMP '1970-01-01 00:00:00', ts)) AS BIGINT) AS lo_s,
        |  CAST(max(date_diff('second',
        |    TIMESTAMP '1970-01-01 00:00:00', ts)) AS BIGINT) AS hi_s
        |FROM events WHERE user_id < 400
        |GROUP BY event_type""".stripMargin),

    // ---- T80: transparent MV rewrite (optimizer rule) --------------------
    Q("q180_mv_rewrite", (s, d) => {
      // the query-rewrite half of the MV story (q175 maintains the
      // view; THIS makes it transparent): the query below is written
      // against the BASE order book at a COARSER grain than the
      // registered (status, priority) view — Catalyst's injected
      // MvRewrite rule re-targets it to the materialized partials
      // (count→Σcnt, sum→Σsum, min/max→min/max of partials), so the
      // fact scan becomes a |groups|-row read. The require() makes the
      // correctness run itself fail loudly if the rule ever silently
      // stops matching — the oracle then proves the REWRITTEN plan
      // returns exactly the recompute's rows, which is the rewrite-
      // soundness theorem (partials re-aggregate exactly: all-BIGINT).
      import graft.plans.MvCatalog
      core.Materialize.scratch(s, "graft_mvq") { case Seq(dir) =>
        val src = Tables.orders(s, d).select(col("o_orderstatus"),
          col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        MvCatalog.register("graft_q180", src,
          Seq("o_orderstatus", "o_orderpriority"), Seq("cents"), dir)
        val q = src.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
            min(col("cents")).as("lo"), max(col("cents")).as("hi"))
        require(scansDir(q, dir), "q180: the MV rewrite did not fire")
        q
      }(MvCatalog.unregister("graft_q180"))
    },
      // q180 mirror: the straight recompute off the base table — the
      // Spark side runs the MV-REWRITTEN plan (require()-proven), so
      // equality is rewrite soundness
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS lo,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS hi
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // ---- T82: MV lifecycle — incremental refresh keeps the rewrite fresh
    Q("q181_mv_refresh", (s, d) => {
      // the composition T72+T75+T80 build to, in one lifecycle: an MV
      // registers over a MANIFESTED table at v1; the table moves to v2
      // (deletes incl. a fully-emptied custkey stratum, updates,
      // inserts); refreshFromTable consumes ONLY the CDF — untouched
      // groups pass through the old MV as data, touched groups
      // recompute from the v2 snapshot via a semi join (the move that
      // keeps MIN/MAX honest under deletes, where q175's add/subtract
      // arithmetic cannot — a delete can RAISE a min) — and the
      // re-registered signature makes the rewrite serve v2 queries
      // immediately: the aggregate below runs against the table read
      // but executes against the refreshed MV (require()-proven). The
      // oracle recomputes directly from the v2 image, so equality is
      // refresh-soundness AND rewrite-soundness composed — with
      // min/max facing deletions and vanished groups in the compare.
      import graft.plans.MvCatalog
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_mvt", "graft_mvm") { case Seq(tdir, mdir) =>
        val base = Tables.orders(s, d).select(col("o_custkey"),
          col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
        val v1df = base.filter(col("o_orderkey") % 4 < 3)
        val v2df = base
          .filter(col("o_orderkey") % 4 < 3 && !(col("o_orderkey") % 7 === 0)
            && !(col("o_custkey") % 211 === 5))
          .withColumn("price_cents",
            when(col("o_orderkey") % 5 === 0, col("price_cents") + 100)
              .otherwise(col("price_cents")))
          .unionAll(base.filter(col("o_orderkey") % 4 === 3
            && !(col("o_custkey") % 211 === 5)))
        val v1 = ManifestedTable.write(
          v1df.repartitionByRange(8, col("o_custkey")), tdir)
        MvCatalog.registerOnTable("graft_q181", s, tdir,
          Seq("o_custkey"), Seq("price_cents"), mdir)
        val v2 = ManifestedTable.write(v2df, tdir, overwrite = true)
        MvCatalog.refreshFromTable("graft_q181", s, tdir, v1, v2)
        val q = ManifestedTable.read(s, tdir)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("price_cents")).as("cents"),
            min(col("price_cents")).as("lo"),
            max(col("price_cents")).as("hi"))
        require(scansDir(q, mdir),
          "q181: the rewrite did not serve the refreshed MV")
        q
      }(MvCatalog.unregister("graft_q181"))
    },
      // q181 mirror: the direct recompute off the v2 image (q175's CTE
      // plus min/max) — the Spark side runs refresh + rewrite, so
      // equality composes refresh-soundness with rewrite-soundness,
      // min/max facing real deletions
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 100
        |              ELSE price_cents END AS price_cents
        |  FROM base WHERE o_orderkey % 4 < 3 AND NOT (o_orderkey % 7 = 0)
        |    AND NOT (o_custkey % 211 = 5)
        |  UNION ALL
        |  SELECT * FROM base
        |  WHERE o_orderkey % 4 = 3 AND NOT (o_custkey % 211 = 5))
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(price_cents) AS BIGINT) AS cents,
        |       CAST(min(price_cents) AS BIGINT) AS lo,
        |       CAST(max(price_cents) AS BIGINT) AS hi
        |FROM v2 GROUP BY o_custkey""".stripMargin),

    // ---- T83: lakehouse lifecycle integration ----------------------------
    Q("q182_lakehouse_lifecycle", (s, d) => {
      // the q121 discipline (one integration query proving the pieces
      // COMPOSE) for the table tier: a manifested table lives a full
      // production life in one oracle-checked flow — three exactly-once
      // streaming batches land (appendBatch; batch 1 REDELIVERED
      // mid-flow and require()-proven a no-op), a price-correction
      // delta MERGEs (copy-on-write), cancellations DELETE (three-
      // valued predicate), clustered compaction rewrites the layout
      // (and must preserve both rows and the txn marker) — and the
      // final aggregate faces the oracle's straight relational
      // pipeline over the same arithmetic. Every seam the lifecycle
      // crosses (ingest idempotence, DML, maintenance) is inside the
      // hash compare.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_lake") { case Seq(dir) =>
        val base = ordersCents(s, d)
        def batch(i: Int) = base.filter(col("o_orderkey") % 3 === i)
        (0 to 2).foreach(i => ManifestedTable.appendBatch(
          batch(i).repartitionByRange(4, col("o_orderkey")), dir, i.toLong))
        // checkpoint replay: batch 1 redelivered — must commit NOTHING
        val vPre = ManifestedTable.currentVersion(s, dir)
        require(!ManifestedTable.appendBatch(batch(1), dir, 1L) &&
          ManifestedTable.currentVersion(s, dir) == vPre,
          "q182: a redelivered batch was applied twice")
        // correction delta: +700 cents on the % 11 = 3 stratum
        ManifestedTable.merge(s, dir,
          base.filter(col("o_orderkey") % 11 === 3)
            .withColumn("price_cents", col("price_cents") + 700L),
          Seq("o_orderkey"))
        // cancellations: the % 13 = 6 stratum leaves
        ManifestedTable.deleteWhere(s, dir, col("o_orderkey") % 13 === 6)
        // maintenance: clustered rewrite must keep rows AND the marker
        ManifestedTable.compactClustered(s, dir,
          targetFileBytes = 1L << 22, col("o_orderkey"))
        require(ManifestedTable.lastBatchId(s, dir).contains(2L),
          "q182: compaction dropped the txn marker")
        ManifestedTable.read(s, dir)
          .groupBy((col("o_custkey") % 97).as("cohort"))
          .agg(count(lit(1)).as("n"),
            sum(col("price_cents")).as("cents"),
            min(col("o_orderkey")).as("first_key"))
      }()
    },
      // q182 mirror: the straight relational pipeline — all three
      // batches are the whole table (% 3 partitions the keys), the merge
      // is an upsert CASE (the stratum's keys all pre-exist), the delete
      // a filter; compaction and exactly-once ingest have no relational
      // image, which is the point: they must be INVISIBLE to the rows
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |corrected AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 11 = 3 THEN price_cents + 700
        |              ELSE price_cents END AS price_cents
        |  FROM base),
        |alive AS (
        |  SELECT * FROM corrected WHERE NOT (o_orderkey % 13 = 6))
        |SELECT o_custkey % 97 AS cohort,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(price_cents) AS BIGINT) AS cents,
        |       CAST(min(o_orderkey) AS BIGINT) AS first_key
        |FROM alive GROUP BY o_custkey % 97""".stripMargin),

    // ---- T85: null-safe equality join (<=> vs =) -------------------------
    Q("q184_nullsafe_join", (s, d) => {
      // the join-key twin of q141's NOT IN trap: dimensions with a
      // genuine "unknown" bucket (NULL-keyed rows on BOTH sides) need
      // <=> / IS NOT DISTINCT FROM — under plain `=` a NULL key
      // matches NOTHING (comparison is UNKNOWN), so every unknown-
      // bucket fact row silently vanishes from the join; the null-safe
      // spelling matches NULL to NULL. Both legs run in one query so
      // the hash compare pins the divergence itself: the eq leg has no
      // grp_null row, the ns leg counts every ninth event there.
      // Scale note: Spark plans EqualNullSafe as a HASH join key (the
      // engine folds it to coalesce+isnull key equality) — no
      // nested-loop penalty for the correct spelling; PlanAuditSpec's
      // every-query assert holds this query to that.
      val ev = Tables.events(s, d).select(col("event_id"),
        when(col("event_id") % 9 === 0, lit(null))
          .otherwise(col("event_id") % 5).cast("long").as("g"))
      val dim = s.sql(
        """SELECT CAST(g AS BIGINT) AS gd, label FROM VALUES
          |  (0, 'grp_0'), (1, 'grp_1'), (2, 'grp_2'), (3, 'grp_3'),
          |  (4, 'grp_4'), (CAST(NULL AS INT), 'grp_null') AS t(g, label)"""
          .stripMargin)
      def leg(name: String, cond: org.apache.spark.sql.Column) =
        ev.join(dim, cond)
          .groupBy(col("label")).agg(count(lit(1)).as("n"))
          .select(lit(name).as("leg"), col("label"), col("n"))
      leg("eq", col("g") === col("gd"))
        .unionAll(leg("ns", col("g") <=> col("gd")))
    },
      // q184 mirror: identical text modulo the operator spelling —
      // DuckDB's IS NOT DISTINCT FROM is Spark's <=>
      """WITH ev AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 9 = 0 THEN NULL
        |         ELSE event_id % 5 END AS g
        |  FROM events),
        |dim AS (SELECT * FROM (VALUES
        |  (0, 'grp_0'), (1, 'grp_1'), (2, 'grp_2'), (3, 'grp_3'),
        |  (4, 'grp_4'), (NULL, 'grp_null')) AS t(g, label))
        |SELECT 'eq' AS leg, label, CAST(count(*) AS BIGINT) AS n
        |FROM ev JOIN dim ON ev.g = dim.g GROUP BY label
        |UNION ALL
        |SELECT 'ns' AS leg, label, CAST(count(*) AS BIGINT) AS n
        |FROM ev JOIN dim ON ev.g IS NOT DISTINCT FROM dim.g
        |GROUP BY label""".stripMargin),

    // ---- T86: GROUP BY ALL (the analyst-SQL grouping shorthand) ----------
    Q("q185_group_by_all", (s, d) => {
      // the Spark-4 surface row the q149–q158 wave missed: GROUP BY
      // ALL groups by every non-aggregate select item (SPARK-44143;
      // DuckDB pioneered the spelling, so the IDENTICAL text runs in
      // both engines — which is exactly what the hash compare pins,
      // including that a computed projection like the day truncation
      // counts as a grouping item while the aggregates don't). Same
      // plan as the explicit list: one map-side-combined aggregate.
      Tables.events(s, d).createOrReplaceTempView("graft_q185_events")
      s.sql(
        """SELECT event_type, CAST(CAST(ts AS DATE) AS STRING) AS day,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |    AS cents
          |FROM graft_q185_events
          |GROUP BY ALL""".stripMargin)
    },
      // q185 mirror: IDENTICAL text modulo the view name — GROUP BY ALL
      // is the same spelling in both engines (DuckDB pioneered it)
      """SELECT event_type, CAST(CAST(ts AS DATE) AS STRING) AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events
        |GROUP BY ALL""".stripMargin),

    // ---- T87: fixed-width text round trip (mainframe feed ingest) -------
    Q("q186_fixed_width", (s, d) => {
      // the delimiter-free batch-feed format (COBOL copybook exports)
      // as a source: events render to 34-byte fixed records
      // (type:10 left-aligned / id:12 cents:12 right-aligned) through
      // FixedWidth.write and come back through substring+trim+cast
      // slicing — all codegen'd column expressions over the engine's
      // own text source, no UDFs. The oracle computes the same
      // aggregate straight off parquet, so hash equality proves the
      // byte layout + padding conventions round-trip value-faithfully;
      // the in-plan overflow guard (a wide value would silently shift
      // every later column) errors rather than misparses.
      import graft.sources.FixedWidth
      import org.apache.spark.sql.types.{LongType, StringType}
      core.Materialize.scratch(s, "graft_fw") { case Seq(dir) =>
        val spec = Seq(
          FixedWidth.Col("event_type", 1, 10, StringType),
          FixedWidth.Col("event_id", 11, 12, LongType),
          FixedWidth.Col("cents", 23, 12, LongType))
        val ev = Tables.events(s, d).select(col("event_type"),
          col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        FixedWidth.write(ev, dir, spec)
        FixedWidth.read(s, dir, spec)
          .filter(col("event_id") % 2 === 0)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
            max(col("event_id")).as("hi_id"))
      }()
    },
      // q186 mirror: the same aggregate straight off parquet — equality
      // proves the fixed-width byte layout round-trips value-faithfully
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(max(event_id) AS BIGINT) AS hi_id
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type""".stripMargin),

    // ---- T88: DSv2 SQL face of the manifested table ----------------------
    Q("q187_manifest_sql_face", (s, d) => {
      // the graft-manifest connector end to end, oracled: the order
      // book becomes a manifested table (key-clustered), a price
      // correction MERGEs it to v2, and then PLAIN SQL — two
      // `CREATE TEMPORARY VIEW ... USING graft-manifest` views, one
      // pinned with versionAsOf — joins the current snapshot against
      // its own past to report each audited customer's order count,
      // current cents, and the correction mass the merge applied.
      // Everything the face claims is on the hash path: snapshot
      // resolution through the manifest (a rogue file can't leak),
      // option-driven time travel, column pruning into the projected
      // parquet read, and interval file skipping under the join. The
      // oracle recomputes both images relationally. Scale: the face's
      // readers are row-materialized (the SQL access tier);
      // ManifestedTable.read stays the vectorized bulk path — both
      // resolve the identical snapshot.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_face") { case Seq(dir) =>
        val base = ordersCents(s, d)
        val v1 = ManifestedTable.write(
          base.repartitionByRange(8, col("o_orderkey")), dir)
        val src = base.filter(col("o_orderkey") % 7 === 2)
          .withColumn("price_cents", col("price_cents") + 5000L)
        ManifestedTable.merge(s, dir, src, Seq("o_orderkey"))
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW g187_v1 " +
          s"USING `graft-manifest` OPTIONS (path '$dir', versionAsOf '$v1')")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW g187_cur " +
          s"USING `graft-manifest` OPTIONS (path '$dir')")
        s.sql(
          """SELECT c.o_custkey AS custkey,
            |  CAST(count(*) AS BIGINT) AS n,
            |  sum(c.price_cents) AS cents_now,
            |  sum(c.price_cents - p.price_cents) AS correction
            |FROM g187_cur c JOIN g187_v1 p ON c.o_orderkey = p.o_orderkey
            |WHERE c.o_custkey % 10 = 3
            |GROUP BY c.o_custkey""".stripMargin)
      }()
    },
      // q187 mirror: both snapshot images recomputed relationally —
      // equality proves the SQL face resolves current AND versioned
      // snapshots exactly (cents sums stay in BIGINT on both engines)
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |cur AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 7 = 2 THEN price_cents + 5000
        |              ELSE price_cents END AS price_cents
        |  FROM base)
        |SELECT c.o_custkey AS custkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c.price_cents) AS BIGINT) AS cents_now,
        |  CAST(sum(c.price_cents - p.price_cents) AS BIGINT) AS correction
        |FROM cur c JOIN base p ON c.o_orderkey = p.o_orderkey
        |WHERE c.o_custkey % 10 = 3
        |GROUP BY c.o_custkey""".stripMargin),

    // ---- T89: MERGE matrix (full-sync reconciliation) --------------------
    Q("q188_merge_full_sync", (s, d) => {
      // the complete MERGE clause matrix in one reconciliation, the
      // form CDC full-sync needs: the feed re-delivers the even-key
      // half of the book (with corrections) plus genuinely new keys —
      // matched rows update ONLY where the feed's version is newer
      // (WHEN MATCHED AND s.ver > t.ver THEN UPDATE: the ver=2 stratum
      // keeps its base image), unmatched feed rows insert only for
      // even customers (WHEN NOT MATCHED AND ... THEN INSERT), and
      // base rows the feed stopped covering delete where ver=0 (WHEN
      // NOT MATCHED BY SOURCE AND ... THEN DELETE). The oracle spells
      // all four outcomes relationally; hash equality pins the per-
      // target-row semantics (conditional update keeps the base image,
      // not a rewrite of it). Copy-on-write as in q176, plus the
      // by-source find-touched pass over the unmatched mass.
      import graft.sources.ManifestedTable
      import graft.sources.ManifestedTable.BySourceDelete
      core.Materialize.scratch(s, "graft_sync") { case Seq(dir) =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          (col("o_orderkey") % 3).as("ver"))
        ManifestedTable.write(
          base.repartitionByRange(8, col("o_orderkey")), dir)
        val src = base.filter(col("o_orderkey") % 2 === 0)
          .withColumn("cents", col("cents") + 7777L)
          .withColumn("ver", lit(2L))
          .unionByName(base.filter(col("o_orderkey") % 5 === 1)
            .withColumn("o_orderkey", col("o_orderkey") + 207000000L)
            .withColumn("ver", lit(2L)))
        ManifestedTable.merge(s, dir, src, Seq("o_orderkey"),
          updateWhen = Some(col("ver") > col("__base_ver")),
          insertWhen = Some(col("o_custkey") % 2 === 0),
          bySource = Some(BySourceDelete(Some(col("ver") === 0L))))
        ManifestedTable.read(s, dir)
      }()
    },
      // q188 mirror: all four MERGE outcomes spelled relationally —
      // newer-wins updates, untouched matched stratum, condition-guarded
      // by-source deletes, condition-guarded inserts
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         o_orderkey % 3 AS ver
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN ver < 2 THEN cents + 7777 ELSE cents END AS cents,
        |  CASE WHEN ver < 2 THEN 2 ELSE ver END AS ver
        |FROM base WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, cents, ver FROM base
        |WHERE o_orderkey % 2 = 1 AND ver <> 0
        |UNION ALL
        |SELECT o_orderkey + 207000000 AS o_orderkey, o_custkey, cents,
        |       2 AS ver
        |FROM base WHERE o_orderkey % 5 = 1 AND o_custkey % 2 = 0""".stripMargin),

    // ---- T90: merge-on-read deletion vectors ------------------------------
    Q("q189_deletion_vectors", (s, d) => {
      // merge-on-read DML on the hash path: a keyed CDC delete feed,
      // a predicate delete, and a correction merge all run at
      // dvMaxFraction=1 — every qualifying file keeps its bytes and
      // takes a (file, pos) sidecar instead (a one-row delete in a
      // 1 GB file moves ~16 bytes; CompactionSpec pins the zero-
      // movement claim via paths+mtimes). The final read reassembles
      // live rows through MERGED sidecar generations (a later DML on
      // the same file replaces, not chains, its vector) via an anti
      // join on parquet's _metadata row identity; the oracle computes
      // the same three-step image relationally, so hash equality
      // proves read-side DV application exact — deleted rows gone,
      // survivors intact, re-inserted keys (a delete then a merge of
      // the same key) present exactly once.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_dvq") { case Seq(dir) =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        ManifestedTable.write(
          base.repartitionByRange(8, col("o_orderkey")), dir)
        ManifestedTable.deleteMatching(s, dir,
          base.filter(col("o_orderkey") % 9 === 4).select("o_orderkey"),
          dvMaxFraction = 1.0)
        ManifestedTable.deleteWhere(s, dir,
          col("cents") > 30000000L && col("o_orderkey") % 5 === 3,
          dvMaxFraction = 1.0)
        val src = base.filter(col("o_orderkey") % 11 === 7)
          .withColumn("cents", col("cents") + 11L)
        ManifestedTable.merge(s, dir, src, Seq("o_orderkey"),
          dvMaxFraction = 1.0)
        ManifestedTable.read(s, dir)
      }()
    },
      // q189 mirror: the three MoR steps composed relationally — keyed
      // delete, predicate delete, then the merge image src ⊎ (live ∖ keys)
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |live1 AS (
        |  SELECT * FROM base WHERE NOT (o_orderkey % 9 = 4)),
        |live2 AS (
        |  SELECT * FROM live1
        |  WHERE NOT (cents > 30000000 AND o_orderkey % 5 = 3)),
        |src AS (
        |  SELECT o_orderkey, o_custkey, cents + 11 AS cents
        |  FROM base WHERE o_orderkey % 11 = 7)
        |SELECT o_orderkey, o_custkey, cents FROM src
        |UNION ALL
        |SELECT l.o_orderkey, l.o_custkey, l.cents FROM live2 l
        |WHERE NOT EXISTS (SELECT 1 FROM src s
        |                  WHERE s.o_orderkey = l.o_orderkey)""".stripMargin),

    // ---- T92: session-catalog SQL lifecycle (graft-manifest catalog) -----
    Q("q190_catalog_sql", (s, d) => {
      // the lakehouse tier driven ENTIRELY from SQL — the
      // TableCatalog face: CTAS creates the manifested order book,
      // INSERT INTO appends a late feed, DELETE FROM runs the
      // copy-on-write delete, and the final SELECT joins the CURRENT
      // snapshot against VERSION AS OF <post-CTAS version> —
      // per audited customer, current count/cents beside the original
      // cents (the versioned join is what a reconciliation report
      // actually does). The oracle replays the three statements
      // relationally. Catalog state is the filesystem (one
      // ManifestedTable dir per table), so this composes with every
      // object-API operation on the same directory.
      lakeScope(s, "g190", "graft_cat_q", "book") { _ =>
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g190_src")
        s.sql("DROP TABLE IF EXISTS g190.book")
        s.sql("""CREATE TABLE g190.book AS
                |SELECT * FROM g190_src WHERE o_orderkey % 4 < 3""".stripMargin)
        // the post-CTAS version, resolved from the table itself rather
        // than hardcoded: CTAS commits create(v1)+insert(v2) TODAY, but
        // any engine-supplied table property outside createTable's strip
        // list would add a set-properties commit and silently shift the
        // numbering — the snapshot the reconciliation reads must be
        // anchored to the OPERATION, not to a version constant. Resolved
        // THROUGH the catalog (history procedure), because Spark caches
        // the catalog instance by name with its FIRST root — on a
        // repeated run (bench) the run-local temp dir and the catalog's
        // actual root diverge, and only the catalog's view is the truth
        // the VERSION AS OF below will read.
        val postCtasV = s.sql("CALL g190.system.history('book')")
          .agg(org.apache.spark.sql.functions.max("version"))
          .head().getLong(0)
        s.sql("""INSERT INTO g190.book
                |SELECT o_orderkey + 307000000, o_custkey, cents
                |FROM g190_src WHERE o_orderkey % 10 = 9""".stripMargin)
        s.sql("DELETE FROM g190.book " +
          "WHERE cents > 25000000 AND o_custkey % 7 = 3")
        s.sql(
          s"""SELECT c.o_custkey AS custkey,
            |  CAST(count(*) AS BIGINT) AS n,
            |  sum(c.cents) AS cents_now,
            |  sum(p.cents) AS cents_at_v2
            |FROM g190.book c
            |LEFT JOIN (SELECT * FROM g190.book VERSION AS OF $postCtasV) p
            |  ON c.o_orderkey = p.o_orderkey
            |WHERE c.o_custkey % 10 = 3
            |GROUP BY c.o_custkey""".stripMargin)
      }()
    },
      // q190 mirror: the three SQL statements replayed relationally —
      // CTAS image, appended feed, null-kept delete semantics, and the
      // current-vs-v2 left join (inserted keys have NULL v2 cents)
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v2 AS (SELECT * FROM base WHERE o_orderkey % 4 < 3),
        |v3 AS (
        |  SELECT * FROM v2
        |  UNION ALL
        |  SELECT o_orderkey + 307000000, o_custkey, cents
        |  FROM base WHERE o_orderkey % 10 = 9),
        |cur AS (
        |  SELECT * FROM v3
        |  WHERE NOT (cents > 25000000 AND o_custkey % 7 = 3))
        |SELECT c.o_custkey AS custkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c.cents) AS BIGINT) AS cents_now,
        |  CAST(sum(p.cents) AS BIGINT) AS cents_at_v2
        |FROM cur c
        |LEFT JOIN v2 p ON c.o_orderkey = p.o_orderkey
        |WHERE c.o_custkey % 10 = 3
        |GROUP BY c.o_custkey""".stripMargin),

    // ---- T93: manifest-served aggregate pushdown --------------------------
    Q("q191_manifest_agg", (s, d) => {
      // zero-IO global aggregates through the SQL face: COUNT(*) and
      // MIN/MAX over integer, and string columns fold entirely from
      // the manifest's embedded per-file stats into ONE literal
      // partition — no data file opens (SourceFormatsSpec pins the
      // pushed-scan plan shape plus the decline legs: pushed filters,
      // deletion vectors, missing tokens all fall back to a real
      // scan). The oracle computes the same aggregates from the raw
      // table, so hash equality proves the manifest's exact-encoding
      // discipline end to end — decimal text for integers, base64
      // UTF-8 for strings, unsigned-byte string ordering.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_magg_q") { case Seq(dir) =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        ManifestedTable.write(
          base.repartitionByRange(8, col("o_orderkey")), dir)
        s.read.format("graft-manifest").load(dir)
          .agg(count(lit(1)).as("n"),
            min(col("o_orderkey")).as("k_lo"),
            max(col("o_orderkey")).as("k_hi"),
            min(col("cents")).as("c_lo"),
            max(col("cents")).as("c_hi"),
            min(col("o_orderpriority")).as("p_lo"),
            max(col("o_orderpriority")).as("p_hi"))
      }()
    },
      // q191 mirror: the same global aggregates from the raw table —
      // equality proves the manifest-served fold exact per type
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(o_orderkey) AS BIGINT) AS k_lo,
        |  CAST(max(o_orderkey) AS BIGINT) AS k_hi,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS c_lo,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS c_hi,
        |  min(o_orderpriority) AS p_lo,
        |  max(o_orderpriority) AS p_hi
        |FROM orders""".stripMargin),

    // ---- T94: SQL UPDATE + MERGE INTO (row-level operations) -------------
    Q("q192_sql_update_merge", (s, d) => {
      // the engine-planned DML pair on the hash path: UPDATE re-prices
      // the low-key urgent stratum and MERGE INTO reconciles a
      // correction feed (matched keys re-priced, unmatched keys
      // inserted) — both rewritten by Spark into ReplaceData plans
      // over the connector's row-level operation, with the matched
      // FILES found by the engine's own runtime group filter and the
      // commit one OCC-validated manifest rename (SourceFormatsSpec
      // pins the strict-minority rewrite claim). The oracle replays
      // both statements relationally; hash equality pins the clause
      // semantics end to end, inserted keys exactly once.
      lakeScope(s, "g192", "graft_rl_q", "book") { _ =>
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g192_src")
        s.sql("DROP TABLE IF EXISTS g192.book")
        s.sql("CREATE TABLE g192.book AS SELECT * FROM g192_src")
        s.sql("""UPDATE g192.book SET cents = cents + 99
                |WHERE o_orderkey % 6 = 1
                |  AND o_orderpriority = '1-URGENT'""".stripMargin)
        s.sql("""MERGE INTO g192.book t
                |USING (SELECT o_orderkey, o_custkey, o_orderpriority,
                |              cents - 77 AS cents
                |       FROM g192_src WHERE o_orderkey % 9 = 2
                |       UNION ALL
                |       SELECT o_orderkey + 407000000, o_custkey,
                |              '9-FEED' AS o_orderpriority, cents
                |       FROM g192_src WHERE o_orderkey % 9 = 5) s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET cents = s.cents,
                |  o_orderpriority = s.o_orderpriority
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(
          """SELECT o_custkey AS custkey, o_orderpriority AS prio,
            |  CAST(count(*) AS BIGINT) AS n, sum(cents) AS cents
            |FROM g192.book WHERE o_custkey % 10 = 3
            |GROUP BY o_custkey, o_orderpriority""".stripMargin)
      }()
    },
      // q192 mirror: UPDATE then MERGE replayed relationally — note the
      // merge's matched branch re-prices from the ORIGINAL cents (its
      // source is the raw view), overriding the earlier UPDATE where the
      // strata intersect
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         o_orderpriority AS p,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |upd AS (
        |  SELECT k, c, p,
        |         CASE WHEN k % 6 = 1 AND p = '1-URGENT'
        |              THEN cents + 99 ELSE cents END AS cents
        |  FROM base),
        |m AS (
        |  SELECT u.k, u.c, u.p,
        |         CASE WHEN u.k % 9 = 2 THEN b.cents - 77
        |              ELSE u.cents END AS cents
        |  FROM upd u JOIN base b ON u.k = b.k),
        |fin AS (
        |  SELECT * FROM m
        |  UNION ALL
        |  SELECT k + 407000000, c, '9-FEED', cents FROM base
        |  WHERE k % 9 = 5)
        |SELECT c AS custkey, p AS prio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM fin WHERE c % 10 = 3
        |GROUP BY c, p""".stripMargin),

    // ---- T97: field-id schema evolution (rename/drop/re-add) ------------
    Q("q193_schema_evolution", (s, d) => {
      // the full evolution lifecycle against the order book, every
      // step through plain SQL: CTAS, RENAME COLUMN (metadata-only —
      // old files keep serving the column through its field id), an
      // INSERT under the renamed schema (mixed physical names), DROP
      // + re-ADD of a second column (fresh id: every pre-drop row
      // reads NULL — count(flag) is the resurrection detector), a
      // second feed under the re-added schema, and an engine-planned
      // UPDATE whose predicate spans all three file generations. The
      // oracle replays the lifecycle relationally; hash equality pins
      // id-resolution end to end.
      lakeScope(s, "g193", "graft_fid_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g193_src")
        s.sql("DROP TABLE IF EXISTS g193.t")
        s.sql("""CREATE TABLE g193.t AS
                |SELECT o_orderkey AS k, o_custkey AS c, cents,
                |       o_orderkey % 7 AS flag
                |FROM g193_src WHERE o_orderkey % 3 < 2""".stripMargin)
        s.sql("ALTER TABLE g193.t RENAME COLUMN cents TO amount")
        s.sql("""INSERT INTO g193.t
                |SELECT o_orderkey + 507000000, o_custkey, cents,
                |       o_orderkey % 7
                |FROM g193_src WHERE o_orderkey % 10 = 4""".stripMargin)
        s.sql("ALTER TABLE g193.t DROP COLUMN flag")
        s.sql("ALTER TABLE g193.t ADD COLUMNS (flag BIGINT)")
        s.sql("""INSERT INTO g193.t
                |SELECT o_orderkey + 607000000, o_custkey, cents + 5,
                |       CAST(1 AS BIGINT)
                |FROM g193_src WHERE o_orderkey % 10 = 6""".stripMargin)
        s.sql("UPDATE g193.t SET amount = amount + 7 WHERE k % 11 = 3")
        s.sql(
          """SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
            |  sum(amount) AS amt, CAST(count(flag) AS BIGINT) AS n_flag
            |FROM g193.t WHERE c % 10 = 3
            |GROUP BY c""".stripMargin)
      }()
    },
      // q193 mirror: the evolution lifecycle replayed relationally —
      // rename = aliasing, drop+re-add = every prior row's flag NULLed
      // (a resurrected dead id would inflate n_flag), the update spans
      // all three generations
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (
        |  SELECT k, c, cents AS amount, k % 7 AS flag
        |  FROM base WHERE k % 3 < 2),
        |f1 AS (
        |  SELECT k + 507000000 AS k, c, cents AS amount, k % 7 AS flag
        |  FROM base WHERE k % 10 = 4),
        |dropped AS (
        |  SELECT k, c, amount, CAST(NULL AS BIGINT) AS flag FROM v1
        |  UNION ALL
        |  SELECT k, c, amount, CAST(NULL AS BIGINT) AS flag FROM f1),
        |f2 AS (
        |  SELECT k + 607000000 AS k, c, cents + 5 AS amount,
        |         CAST(1 AS BIGINT) AS flag
        |  FROM base WHERE k % 10 = 6),
        |cur AS (
        |  SELECT k, c,
        |         CASE WHEN k % 11 = 3 THEN amount + 7 ELSE amount END
        |           AS amount,
        |         flag
        |  FROM (SELECT * FROM dropped UNION ALL SELECT * FROM f2))
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(amount) AS BIGINT) AS amt,
        |  CAST(count(flag) AS BIGINT) AS n_flag
        |FROM cur WHERE c % 10 = 3
        |GROUP BY c""".stripMargin),

    // ---- T98: branch refs / write-audit-publish --------------------------
    Q("q194_wap_branch", (s, d) => {
      // the WAP lifecycle against the order book: feed A stages on a
      // branch (require() pins that main never moves), the AUDIT step
      // queries the branch head and passes, a second SUSPECT feed
      // stages, fails its audit, and is DROPPED, then feed A promotes
      // as one atomic fast-forward commit. The final aggregate over
      // MAIN must contain exactly base ∪ feed A — the dropped feed's
      // absence and the staged feed's presence are both part of the
      // oracle-checked result, not just spec assertions.
      import graft.sources.ManifestedTable
      core.Materialize.scratch(s, "graft_wap_q") { case Seq(dir) =>
        val book = Tables.orders(s, d).select(
          col("o_orderkey").as("k"), col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        ManifestedTable.write(
          book.filter(col("k") % 3 < 2).repartitionByRange(8, col("k")), dir)
        val mainV = ManifestedTable.currentVersion(s, dir)
        // WRITE: stage the audited feed on a branch — main stays dark
        val feedA = book.filter(col("k") % 10 === 1)
          .select((col("k") + 707000000L).as("k"), col("c"),
            (col("cents") + 3L).as("cents"))
        ManifestedTable.writeBranch(feedA, dir, "incoming")
        require(ManifestedTable.currentVersion(s, dir) == mainV,
          "a staged branch commit moved the main version")
        // AUDIT: quality gate over the branch head
        require(ManifestedTable.readBranch(s, dir, "incoming")
          .filter(col("cents") <= 0L).isEmpty, "feed A failed its audit")
        // a SUSPECT feed fails the same gate and is dropped, not merged
        val feedB = book.filter(col("k") % 10 === 2)
          .select((col("k") + 807000000L).as("k"), col("c"),
            lit(-1L).as("cents"))
        ManifestedTable.writeBranch(feedB, dir, "suspect")
        require(!ManifestedTable.readBranch(s, dir, "suspect")
          .filter(col("cents") <= 0L).isEmpty,
          "the suspect feed should fail the audit")
        ManifestedTable.dropBranch(s, dir, "suspect")
        // PUBLISH: one atomic fast-forward promote
        ManifestedTable.promoteBranch(s, dir, "incoming")
        ManifestedTable.read(s, dir)
          .filter(col("c") % 10 === 3)
          .groupBy(col("c").as("custkey"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents")).as("cents_sum"))
      }()
    },
      // q194 mirror: main after the WAP cycle = base ∪ the PROMOTED
      // feed; the dropped suspect feed contributes nothing
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE k % 3 < 2),
        |fa AS (
        |  SELECT k + 707000000 AS k, c, cents + 3 AS cents
        |  FROM base WHERE k % 10 = 1),
        |cur AS (SELECT * FROM v1 UNION ALL SELECT * FROM fa)
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM cur WHERE c % 10 = 3
        |GROUP BY c""".stripMargin),

    // ---- T115: cherry-pick -------------------------------------------------
    // ---- T118: equality deletes / CDC upsert ------------------------------
    Q("q207_eq_upsert", (s, d) => {
      // the Iceberg-v2/Flink CDC construction end to end: an initial
      // load, then CDC batches through the equality-delete upsert
      // faces — each batch ONE commit carrying a key sidecar (masks
      // all older images, zero base files read or rewritten) plus the
      // appended rows; deletes are key-only sidecar entries. The read
      // faces apply the masks; the oracle replays the same feed
      // relationally (delete-then-insert per key per batch). The
      // STREAMING sink flavor (update-mode epochs, exactly-once
      // restart) is pinned in EqualityDeleteSpec; absorb-by-compact
      // equivalence is asserted inline here.
      import graft.sources.ManifestedTable
      // the table path, for the compact in the release below (catRoot
      // is stable per session, so lakeScope owns this same root)
      val dir = s"${catRoot(s, "g207", "graft_eq_q")}/t"
      lakeScope(s, "g207", "graft_eq_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g207_src")
        s.sql("DROP TABLE IF EXISTS g207.t")
        s.sql("CREATE TABLE g207.t (k BIGINT, c BIGINT, cents BIGINT)")
        s.sql("""INSERT INTO g207.t
                |SELECT k, c, cents FROM g207_src WHERE k % 3 < 2""".stripMargin)
        // CDC batch 1 through the WRITER face (upsertKeys +
        // cdcTypeColumn): upserts for k%10=4, deletes for k%13=5 —
        // an upsert and a delete of the SAME key in one batch resolves
        // to the upsert (the batch's own rows are never masked)
        val src = s.table("g207_src")
        val cdc = src.filter(col("k") % 10 === 4)
          .select(col("k"), col("c"), (col("cents") + 9).as("cents"))
          .withColumn("op", lit("U"))
          .unionByName(src.filter(col("k") % 13 === 5)
            .select(col("k"), lit(null).cast("bigint").as("c"),
              lit(null).cast("bigint").as("cents"),
              lit("D").as("op")))
        cdc.write.format("graft-manifest")
          .option("upsertKeys", "k").option("cdcTypeColumn", "op")
          .mode("append").save(dir)
        // CDC batch 2 through the OBJECT face: re-insert half the
        // deleted keys with a sentinel payload
        ManifestedTable.eqUpsert(s, dir,
          src.filter(col("k") % 13 === 5 && col("k") % 2 === 0)
            .select(col("k"), col("c"), lit(77777L).as("cents")),
          Seq("k"))
        s.sql(
          """SELECT c % 25 AS grp, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS cents_sum
            |FROM g207.t
            |GROUP BY c % 25""".stripMargin)
      } {
        // absorb-by-compact must preserve the masked content exactly
        val masked = s.table("g207.t").count()
        ManifestedTable.compact(s, dir, 1L << 30)
        require(s.table("g207.t").count() == masked,
          "compact absorb changed the eq-masked row count")
      }
    },
      // q207 mirror: the CDC feed replayed relationally — per batch,
      // delete-then-insert by key (a same-batch upsert wins over a
      // same-batch delete, matching the sidecar-never-masks-own-batch
      // semantics)
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |p1 AS (SELECT k, c, cents FROM base WHERE k % 3 < 2),
        |up AS (SELECT k, c, cents + 9 AS cents FROM base WHERE k % 10 = 4),
        |del AS (SELECT k FROM base WHERE k % 13 = 5),
        |s2 AS (
        |  SELECT * FROM p1
        |  WHERE k NOT IN (SELECT k FROM up)
        |    AND k NOT IN (SELECT k FROM del)
        |  UNION ALL SELECT * FROM up),
        |re AS (
        |  SELECT k, c, 77777 AS cents FROM base
        |  WHERE k % 13 = 5 AND k % 2 = 0),
        |s3 AS (
        |  SELECT * FROM s2 WHERE k NOT IN (SELECT k FROM re)
        |  UNION ALL SELECT * FROM re)
        |SELECT c % 25 AS grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM s3
        |GROUP BY c % 25""".stripMargin),

    // ---- T117: identity + generated columns ------------------------------
    Q("q206_identity", (s, d) => {
      // IDENTITY values mint connector-side from an OCC-guarded
      // high-water mark; GENERATED columns compute their expression
      // inline. Minted values are engine-allocated (unique, lattice-
      // aligned — IdentityColumnsSpec pins those properties and the
      // concurrent-feed race), so the ORACLE-facing output projects
      // only the deterministic facts: row counts, distinct-id counts
      // (= row counts iff no collision), and the generated column's
      // arithmetic.
      lakeScope(s, "g206", "graft_idc_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g206_src")
        s.sql("DROP TABLE IF EXISTS g206.t")
        s.sql("""CREATE TABLE g206.t (
                |  id BIGINT GENERATED ALWAYS AS IDENTITY,
                |  k BIGINT, c BIGINT, cents BIGINT,
                |  mag BIGINT GENERATED ALWAYS AS (cents % 97))""".stripMargin)
        s.sql("""INSERT INTO g206.t (k, c, cents)
                |SELECT k, c, cents FROM g206_src WHERE k % 3 < 2""".stripMargin)
        s.sql("""INSERT INTO g206.t (k, c, cents)
                |SELECT k + 507000000, c, cents + 9 FROM g206_src
                |WHERE k % 10 = 4""".stripMargin)
        s.sql(
          """SELECT c % 25 AS grp, CAST(count(*) AS BIGINT) AS n,
            |  CAST(count(DISTINCT id) AS BIGINT) AS n_ids,
            |  CAST(sum(mag) AS BIGINT) AS mag_sum
            |FROM g206.t
            |GROUP BY c % 25""".stripMargin)
      }()
    },
      // q206 mirror: identity values are engine-allocated, so the
      // replay projects the deterministic facts only — n_ids == n (the
      // uniqueness invariant) and the generated column's arithmetic
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |rows_all AS (
        |  SELECT c, cents FROM base WHERE k % 3 < 2
        |  UNION ALL
        |  SELECT c, cents + 9 AS cents FROM base WHERE k % 10 = 4)
        |SELECT c % 25 AS grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(sum(cents % 97) AS BIGINT) AS mag_sum
        |FROM rows_all
        |GROUP BY c % 25""".stripMargin),

    // ---- T116: storage-partitioned join ----------------------------------
    Q("q205_spj", (s, d) => {
      // two manifested FACT tables co-partitioned by bucket(8, k)
      // joined on k with ZERO Exchange: the scans report
      // KeyGroupedPartitioning, the bucket transform resolves through
      // the catalog's FunctionCatalog face, and EnsureRequirements
      // proves co-partitioning from the layout alone — the shuffle
      // both 100-TB sides would otherwise pay is already on disk.
      // Broadcast is disabled for the join so the small-SF run plans
      // the scale-representative path (StoragePartitionedJoinSpec pins
      // the no-Exchange plan; this entry pins the RESULT against a
      // relational replay — co-location must be semantically invisible).
      val savedB = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      lakeScope(s, "g205", "graft_spj_q", "fo", "fl") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g205_ord")
        Tables.lineitem(s, d).select(col("l_orderkey").as("k"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"))
          .createOrReplaceTempView("g205_li")
        s.sql("DROP TABLE IF EXISTS g205.fo")
        s.sql("DROP TABLE IF EXISTS g205.fl")
        s.sql("""CREATE TABLE g205.fo (k BIGINT, c BIGINT, cents BIGINT)
                |PARTITIONED BY (bucket(8, k))""".stripMargin)
        s.sql("""CREATE TABLE g205.fl (k BIGINT, qty BIGINT)
                |PARTITIONED BY (bucket(8, k))""".stripMargin)
        // two commits per side → several files per bucket: the exec
        // must fuse same-key FILES, not assume one file per key
        s.sql("INSERT INTO g205.fo SELECT * FROM g205_ord WHERE k % 2 = 0")
        s.sql("INSERT INTO g205.fo SELECT * FROM g205_ord WHERE k % 2 = 1")
        s.sql("INSERT INTO g205.fl SELECT * FROM g205_li WHERE k % 2 = 0")
        s.sql("INSERT INTO g205.fl SELECT * FROM g205_li WHERE k % 2 = 1")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        s.sql(
          """SELECT fo.c AS custkey, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(fo.cents + fl.qty) AS BIGINT) AS v
            |FROM g205.fo fo JOIN g205.fl fl ON fo.k = fl.k
            |WHERE fo.c % 7 = 2
            |GROUP BY fo.c""".stripMargin)
      } {
        savedB match {
          case Some(v) =>
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
          case None =>
            s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
        s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    },
      // q205 mirror: the two co-bucketed feeds replayed as plain
      // relations — bucketing is layout, never semantics
      """WITH fo AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |fl AS (
        |  SELECT l_orderkey AS k, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT fo.c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(fo.cents + fl.qty) AS BIGINT) AS v
        |FROM fo JOIN fl ON fo.k = fl.k
        |WHERE fo.c % 7 = 2
        |GROUP BY fo.c""".stripMargin),

    Q("q204_cherrypick", (s, d) => {
      // the single-commit companion to write-audit-publish: TWO feeds
      // stage on one branch, the branch is DROPPED (audit failed for
      // the batch), then cherry-pick lifts exactly the ONE vetted
      // commit onto main — zero data movement, entry lines republished
      // by reference. The oracle contains feed A and not feed B: a
      // leak either way hash-mismatches.
      import graft.sources.ManifestedTable
      lakeScope(s, "g204", "graft_cp_q", "t") { wh =>
        val book = Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        book.createOrReplaceTempView("g204_src")
        s.sql("DROP TABLE IF EXISTS g204.t")
        s.sql("""CREATE TABLE g204.t AS
                |SELECT k, c, cents FROM g204_src WHERE k % 3 < 2""".stripMargin)
        val dir = s"$wh/t"
        ManifestedTable.writeBranch(
          book.filter(col("k") % 10 === 4)
            .select((col("k") + 507000000L).as("k"), col("c"),
              (col("cents") + 1L).as("cents")), dir, "stage")
        val vA = ManifestedTable.branches(s, dir)
          .find(_._1 == "stage").get._2
        ManifestedTable.writeBranch(
          book.filter(col("k") % 10 === 6)
            .select((col("k") + 607000000L).as("k"), col("c"),
              lit(-1L).as("cents")), dir, "stage")
        ManifestedTable.dropBranch(s, dir, "stage")
        s.sql(s"CALL g204.system.cherrypick('t', $vA)")
        s.sql(
          """SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS cents_sum
            |FROM g204.t WHERE c % 10 = 3
            |GROUP BY c""".stripMargin)
      }()
    },
      // q204 mirror: the CTAS image plus ONLY the cherry-picked feed —
      // the dropped sibling commit must not leak
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (SELECT k, c, cents FROM base WHERE k % 3 < 2),
        |fa AS (
        |  SELECT k + 507000000 AS k, c, cents + 1 AS cents
        |  FROM base WHERE k % 10 = 4),
        |cur AS (SELECT * FROM s1 UNION ALL SELECT * FROM fa)
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM cur WHERE c % 10 = 3
        |GROUP BY c""".stripMargin),

    // ---- T114: catalog SQL views -------------------------------------------
    Q("q203_catalog_views", (s, d) => {
      // catalog views end to end: create_view stores analyzed query
      // TEXT (the engine ships ViewCatalog unwired — the DDL face is
      // the procedure namespace, reads expand via the injected
      // resolution rule); a later INSERT shows through (text binding,
      // not snapshot), and a view composes over another view. The
      // oracle replays the final text against the final data.
      lakeScope(s, "g203", "graft_vw_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g203_src")
        s.sql("DROP TABLE IF EXISTS g203.t")
        s.sql("""CREATE TABLE g203.t AS
                |SELECT k, c, cents FROM g203_src WHERE k % 3 < 2""".stripMargin)
        s.sql("""CALL g203.system.create_view('by_cust',
                |  'SELECT c, count(*) AS n, sum(cents) AS cents_sum
                |   FROM g203.t GROUP BY c', false)""".stripMargin)
        s.sql("""INSERT INTO g203.t
                |SELECT k + 507000000, c, cents + 1 FROM g203_src
                |WHERE k % 10 = 4""".stripMargin)
        s.sql("""CALL g203.system.create_view('big',
                |  'SELECT * FROM g203.by_cust WHERE n >= 5', false)""".stripMargin)
        s.sql(
          """SELECT c AS custkey, CAST(n AS BIGINT) AS n,
            |  CAST(cents_sum AS BIGINT) AS cents_sum
            |FROM g203.big WHERE c % 10 = 3""".stripMargin)
      } {
        s.sql("CALL g203.system.drop_view('big')")
        s.sql("CALL g203.system.drop_view('by_cust')")
      }
    },
      // q203 mirror: the view text replayed against the final data —
      // views must be pure name->text bindings
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cur AS (
        |  SELECT k, c, cents FROM base WHERE k % 3 < 2
        |  UNION ALL
        |  SELECT k + 507000000 AS k, c, cents + 1 AS cents
        |  FROM base WHERE k % 10 = 4),
        |by_cust AS (
        |  SELECT c, count(*) AS n, sum(cents) AS cents_sum
        |  FROM cur GROUP BY c),
        |big AS (SELECT * FROM by_cust WHERE n >= 5)
        |SELECT c AS custkey, CAST(n AS BIGINT) AS n,
        |  CAST(cents_sum AS BIGINT) AS cents_sum
        |FROM big WHERE c % 10 = 3""".stripMargin),

    // ---- T113: CHECK constraints -------------------------------------------
    Q("q202_check_constraints", (s, d) => {
      // enforcement as an ORACLE property: a table with a CHECK
      // rejects a violating INSERT atomically (nothing lands), then
      // DROP CONSTRAINT releases it and the same feed lands. If
      // enforcement silently failed, the violating stratum would be
      // IN the result and hash-mismatch; if the rejection were
      // non-atomic, a partial batch would. The oracle replays only
      // what must have landed.
      lakeScope(s, "g202", "graft_ck_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g202_src")
        s.sql("DROP TABLE IF EXISTS g202.t")
        s.sql("""CREATE TABLE g202.t (k BIGINT, c BIGINT, cents BIGINT,
                |  CONSTRAINT cents_pos CHECK (cents >= 0))""".stripMargin)
        s.sql("""INSERT INTO g202.t
                |SELECT k, c, cents FROM g202_src WHERE k % 3 < 2""".stripMargin)
        // the violating feed throws — and must land NOTHING
        val rejected = scala.util.Try(s.sql(
          """INSERT INTO g202.t
            |SELECT k + 507000000, c, -cents - 1 FROM g202_src
            |WHERE k % 10 = 4""".stripMargin)).isFailure
        require(rejected, "a CHECK-violating INSERT was accepted")
        s.sql("ALTER TABLE g202.t DROP CONSTRAINT cents_pos")
        s.sql("""INSERT INTO g202.t
                |SELECT k + 607000000, c, -cents - 1 FROM g202_src
                |WHERE k % 10 = 6""".stripMargin)
        s.sql(
          """SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS cents_sum,
            |  CAST(count(CASE WHEN cents < 0 THEN 1 END) AS BIGINT)
            |    AS n_neg
            |FROM g202.t WHERE c % 10 = 3
            |GROUP BY c""".stripMargin)
      }()
    },
      // q202 mirror: only the strata that must have landed — the CTAS
      // image and the post-DROP negative feed; the rejected stratum is
      // exactly what a broken enforcement would add
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (SELECT k, c, cents FROM base WHERE k % 3 < 2),
        |s3 AS (
        |  SELECT k + 607000000 AS k, c, -cents - 1 AS cents
        |  FROM base WHERE k % 10 = 6),
        |cur AS (SELECT * FROM s1 UNION ALL SELECT * FROM s3)
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum,
        |  CAST(count(CASE WHEN cents < 0 THEN 1 END) AS BIGINT)
        |    AS n_neg
        |FROM cur WHERE c % 10 = 3
        |GROUP BY c""".stripMargin),

    // ---- T112: column default values ---------------------------------------
    Q("q201_column_defaults", (s, d) => {
      // the initial-default lifecycle in plain SQL: a CREATE-time
      // DEFAULT feeds partial-column INSERTs; ADD COLUMN ... DEFAULT
      // makes rows written BEFORE the column read the pinned EXISTS
      // default (not NULL) with zero data movement; SET DEFAULT moves
      // only the CURRENT default (new inserts) — history must not
      // rewrite; a CoW UPDATE rewrites files across all generations
      // and the defaulted values must survive it. The oracle replays
      // the lifecycle with the defaults spelled explicitly.
      lakeScope(s, "g201", "graft_df_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g201_src")
        s.sql("DROP TABLE IF EXISTS g201.t")
        s.sql("""CREATE TABLE g201.t (k BIGINT, c BIGINT, cents BIGINT,
                |  v STRING DEFAULT 'seed')""".stripMargin)
        s.sql("""INSERT INTO g201.t (k, c, cents)
                |SELECT k, c, cents FROM g201_src WHERE k % 3 < 2""".stripMargin)
        s.sql("ALTER TABLE g201.t ADD COLUMN tag STRING DEFAULT 'legacy'")
        s.sql("""INSERT INTO g201.t
                |SELECT k + 507000000, c, cents + 1, 'new', 'fresh'
                |FROM g201_src WHERE k % 10 = 4""".stripMargin)
        s.sql("ALTER TABLE g201.t ALTER COLUMN tag SET DEFAULT 'cur'")
        s.sql("""INSERT INTO g201.t (k, c, cents, v)
                |SELECT k + 607000000, c, cents, 'x'
                |FROM g201_src WHERE k % 10 = 6""".stripMargin)
        s.sql("UPDATE g201.t SET cents = cents + 5 WHERE c % 11 = 3")
        s.sql(
          """SELECT tag, v, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS cents_sum
            |FROM g201.t GROUP BY tag, v""".stripMargin)
      }()
    },
      // q201 mirror: the default lifecycle with the defaults spelled
      // explicitly — stratum 1 reads the CREATE default + the ADD-time
      // exists default, stratum 2 its explicit values, stratum 3 the
      // post-SET current default; the UPDATE spans all three
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (
        |  SELECT k, c, cents, 'seed' AS v, 'legacy' AS tag
        |  FROM base WHERE k % 3 < 2),
        |s2 AS (
        |  SELECT k + 507000000 AS k, c, cents + 1 AS cents,
        |         'new' AS v, 'fresh' AS tag
        |  FROM base WHERE k % 10 = 4),
        |s3 AS (
        |  SELECT k + 607000000 AS k, c, cents, 'x' AS v, 'cur' AS tag
        |  FROM base WHERE k % 10 = 6),
        |cur AS (
        |  SELECT k, c,
        |         CASE WHEN c % 11 = 3 THEN cents + 5 ELSE cents END
        |           AS cents,
        |         v, tag
        |  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |        UNION ALL SELECT * FROM s3))
        |SELECT tag, v, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM cur GROUP BY tag, v""".stripMargin),

    // ---- T109: change data feed (readChangeFeed) ---------------------------
    Q("q199_change_feed", (s, d) => {
      // the Delta-shaped readChangeFeed face: a lifecycle of commits
      // (CTAS, append, two merge-on-read DELETEs — the second GROWS
      // existing deletion vectors) read back as ONE batch change feed
      // with _change_type/_commit_version columns. The MoR deletes are
      // what make this oracle-exact at row level: the feed's
      // include-mask (new DV minus old) surfaces exactly each commit's
      // victims, never re-delivering the file. The oracle replays
      // every commit relationally with literal versions.
      lakeScope(s, "g199", "graft_cf_q", "t") { wh =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g199_src")
        s.sql("DROP TABLE IF EXISTS g199.t")
        s.sql("""CREATE TABLE g199.t
                |TBLPROPERTIES ('graft.dv-max-fraction' = '1.0') AS
                |SELECT k, c, cents FROM g199_src WHERE k % 3 < 2""".stripMargin)
        s.sql("""INSERT INTO g199.t
                |SELECT k + 507000000, c, cents + 1 FROM g199_src
                |WHERE k % 10 = 4""".stripMargin)
        s.sql("DELETE FROM g199.t WHERE c % 13 = 5")
        s.sql("DELETE FROM g199.t WHERE c % 13 = 6")
        s.read.format("graft-manifest")
          .option("readChangeFeed", "true").option("startingVersion", "0")
          .load(s"$wh/t")
          .groupBy(col("_change_type").as("ctype"),
            col("_commit_version").cast("long").as("v"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents")).cast("long").as("cents_sum"))
      }()
    },
      // q199 mirror: every commit's row-level delta replayed with
      // literal change types and versions — v1 the no-file CREATE
      // (nothing), v2 the TBLPROPERTIES commit (nothing), v3 the CTAS
      // image, v4 the feed, v5/v6 the two MoR deletes' victims (the
      // second applies to v5's survivors)
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v2 AS (SELECT k, c, cents FROM base WHERE k % 3 < 2),
        |v3 AS (
        |  SELECT k + 507000000 AS k, c, cents + 1 AS cents
        |  FROM base WHERE k % 10 = 4),
        |all1 AS (SELECT * FROM v2 UNION ALL SELECT * FROM v3),
        |d4 AS (SELECT * FROM all1 WHERE c % 13 = 5),
        |live4 AS (SELECT * FROM all1 WHERE NOT c % 13 = 5),
        |d5 AS (SELECT * FROM live4 WHERE c % 13 = 6),
        |changes AS (
        |  SELECT 'insert' AS ctype, 3 AS v, cents FROM v2
        |  UNION ALL SELECT 'insert', 4, cents FROM v3
        |  UNION ALL SELECT 'delete', 5, cents FROM d4
        |  UNION ALL SELECT 'delete', 6, cents FROM d5)
        |SELECT ctype, CAST(v AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM changes GROUP BY ctype, v""".stripMargin),

    // ---- T110: metadata tables --------------------------------------------
    Q("q200_metadata_tables", (s, d) => {
      // the inspection surface as a RELATION: a hidden-partitioned
      // table (months × truncate — the latter also oracle-exercises
      // the new transform) is fed twice, then `t.partitions` rolls up
      // per-tuple record counts FROM THE MANIFEST ALONE (a driver-
      // local scan, zero data IO). The oracle recomputes every tuple
      // relationally from the raw rows — the metadata must agree with
      // the data it indexes, bit-exactly, tuple names included.
      lakeScope(s, "g200", "graft_mt_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"), col("o_orderdate").as("dt"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g200_src")
        s.sql("DROP TABLE IF EXISTS g200.t")
        // the truncate source is BOUNDED (c % 5000 → ≤ 2 bins of 2500)
        // so the tuple count — and with it the files-per-commit — stays
        // scale-free: partition cardinality is a LAYOUT design choice,
        // and an unbounded-domain transform would explode small files at
        // 100 TB exactly like over-partitioning does on any lakehouse
        s.sql("""CREATE TABLE g200.t (k BIGINT, c BIGINT, cm BIGINT,
                |  dt DATE, cents BIGINT)
                |PARTITIONED BY (months(dt), truncate(2500, cm))""".stripMargin)
        s.sql("""INSERT INTO g200.t
                |SELECT k, c, c % 5000, dt, cents FROM g200_src
                |WHERE k % 3 < 2""".stripMargin)
        s.sql("""INSERT INTO g200.t
                |SELECT k + 507000000, c, c % 5000, date_add(dt, 40),
                |  cents + 9
                |FROM g200_src WHERE k % 10 = 4""".stripMargin)
        s.sql(
          """SELECT partition AS part,
            |  CAST(record_count AS BIGINT) AS n_rows
            |FROM g200.t.partitions""".stripMargin)
      }()
    },
      // q200 mirror: every partition tuple recomputed relationally from
      // the raw rows — the manifest's partitions rollup must agree with
      // the data it indexes, rendered tuple names included
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c, o_orderdate AS dt,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |rows1 AS (
        |  SELECT k, c, c % 5000 AS cm, dt, cents
        |  FROM base WHERE k % 3 < 2
        |  UNION ALL
        |  SELECT k + 507000000 AS k, c, c % 5000 AS cm,
        |         CAST(dt + INTERVAL 40 DAY AS DATE) AS dt,
        |         cents + 9 AS cents
        |  FROM base WHERE k % 10 = 4)
        |SELECT 'months(dt)=' ||
        |    CAST((year(dt) - 1970) * 12 + month(dt) - 1 AS VARCHAR) ||
        |    '/truncate(2500, cm)=' ||
        |    CAST(cm - ((cm % 2500 + 2500) % 2500) AS VARCHAR) AS part,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM rows1 GROUP BY 1""".stripMargin),

    // ---- T108: row lineage — stable row ids -------------------------------
    Q("q198_row_lineage", (s, d) => {
      // stable row identity through a DML lifecycle, all in SQL: a
      // row-lineage table (CTAS), a feed, an engine-planned UPDATE
      // (ids carried PER ROW through the rewrite), a DELETE, and a
      // full compaction — then the CURRENT snapshot left-joins the
      // ORIGINAL image on _row_id. The old/new flag per surviving row
      // is therefore computed FROM THE IDS: if any rewrite had
      // re-minted (update, delete's copy-on-write, compaction), rows
      // would change sides and the oracle — which replays the
      // lifecycle relationally and derives the flag from provenance —
      // would hash-mismatch.
      lakeScope(s, "g198", "graft_rid_q", "t") { wh =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g198_src")
        s.sql("DROP TABLE IF EXISTS g198.t")
        s.sql("""CREATE TABLE g198.t
                |TBLPROPERTIES ('graft.row-lineage' = 'true') AS
                |SELECT k, c, cents FROM g198_src WHERE k % 3 < 2""".stripMargin)
        val v2 = graft.sources.ManifestedTable.currentVersion(s, s"$wh/t")
        s.sql("""INSERT INTO g198.t
                |SELECT k + 507000000, c, cents + 9 FROM g198_src
                |WHERE k % 10 = 4""".stripMargin)
        s.sql("UPDATE g198.t SET cents = cents + 11 WHERE k % 7 = 2")
        s.sql("DELETE FROM g198.t WHERE c % 11 = 4")
        graft.sources.ManifestedTable.compact(s, s"$wh/t", 1L << 30)
        s.sql(
          s"""SELECT x.c AS custkey, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN x.old THEN x.cents END) AS BIGINT)
             |    AS cents_old,
             |  CAST(count(CASE WHEN NOT x.old THEN 1 END) AS BIGINT)
             |    AS n_new
             |FROM (
             |  SELECT cur.c, cur.cents, v2._row_id IS NOT NULL AS old
             |  FROM g198.t cur
             |  LEFT JOIN (SELECT _row_id FROM g198.t VERSION AS OF $v2) v2
             |    ON cur._row_id = v2._row_id) x
             |WHERE x.c % 10 = 3
             |GROUP BY x.c""".stripMargin)
      }()
    },
      // q198 mirror: the lifecycle replayed with the old/new flag
      // derived from PROVENANCE (which stratum a row came from) — the
      // Spark side derives it from row IDS, so hash equality proves the
      // ids survived the UPDATE, the DELETE's rewrite, and compaction
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v2set AS (
        |  SELECT k, c, cents, TRUE AS old FROM base WHERE k % 3 < 2),
        |feed AS (
        |  SELECT k + 507000000 AS k, c, cents + 9 AS cents,
        |         FALSE AS old
        |  FROM base WHERE k % 10 = 4),
        |allr AS (SELECT * FROM v2set UNION ALL SELECT * FROM feed),
        |upd AS (
        |  SELECT k, c,
        |         CASE WHEN k % 7 = 2 THEN cents + 11 ELSE cents END
        |           AS cents,
        |         old
        |  FROM allr),
        |cur AS (SELECT * FROM upd WHERE NOT (c % 11 = 4))
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN old THEN cents END) AS BIGINT)
        |    AS cents_old,
        |  CAST(count(CASE WHEN NOT old THEN 1 END) AS BIGINT) AS n_new
        |FROM cur WHERE c % 10 = 3
        |GROUP BY c""".stripMargin),

    // ---- T105: per-commit CDF with change-type columns --------------------
    Q("q197_changelog_view", (s, d) => {
      // the table_changes face: a lifecycle of commits (CTAS, append,
      // engine-planned MERGE, DELETE) replayed commit-by-commit from
      // ONE batch read — CALL create_changelog_view registers the
      // per-commit CDF with _change_type (insert/delete/
      // update_preimage/update_postimage via the identifier column),
      // _commit_version, and _commit_timestamp. The per-commit diff
      // rides the manifest symmetric difference: unchanged files never
      // open, identical rows of rewritten files cancel, so each commit
      // contributes exactly its own row-level delta. The oracle
      // replays every commit relationally with literal versions.
      lakeScope(s, "g197", "graft_cl_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g197_src")
        s.sql("DROP TABLE IF EXISTS g197.t")
        s.sql("""CREATE TABLE g197.t AS
                |SELECT k, c, cents FROM g197_src WHERE k % 3 < 2""".stripMargin)
        s.sql("""INSERT INTO g197.t
                |SELECT k + 507000000, c, cents + 1 FROM g197_src
                |WHERE k % 10 = 4""".stripMargin)
        s.sql("""MERGE INTO g197.t t
                |USING (SELECT k, c, cents - 7 AS cents FROM g197_src
                |       WHERE k % 9 = 1
                |       UNION ALL
                |       SELECT k + 607000000, c, cents FROM g197_src
                |       WHERE k % 9 = 5) s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET cents = s.cents
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql("DELETE FROM g197.t WHERE c % 13 = 5")
        s.sql("""CALL g197.system.create_changelog_view(
                |  't', 0, 5, 'g197_changes', 'k')""".stripMargin)
        s.sql(
          """SELECT _change_type AS ctype,
            |  CAST(_commit_version AS BIGINT) AS v,
            |  CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS cents_sum
            |FROM g197_changes
            |GROUP BY _change_type, _commit_version""".stripMargin)
      }()
    },
      // q197 mirror: every commit's row-level delta replayed
      // relationally with literal change types and versions — v1 is the
      // no-file CREATE (contributes nothing), v2 the CTAS image, v3 the
      // feed, v4 the merge (pre/post images via the identifier column,
      // unmatched keys as inserts), v5 the delete's victims
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v1set AS (SELECT k, c, cents FROM base WHERE k % 3 < 2),
        |f3 AS (
        |  SELECT k + 507000000 AS k, c, cents + 1 AS cents
        |  FROM base WHERE k % 10 = 4),
        |msrc AS (
        |  SELECT k, c, cents - 7 AS cents FROM base WHERE k % 9 = 1
        |  UNION ALL
        |  SELECT k + 607000000 AS k, c, cents FROM base WHERE k % 9 = 5),
        |pre4 AS (SELECT * FROM v1set UNION ALL SELECT * FROM f3),
        |mpre AS (
        |  SELECT t.* FROM pre4 t WHERE t.k IN (SELECT k FROM msrc)),
        |mpost AS (
        |  SELECT t.k, t.c, s.cents FROM pre4 t JOIN msrc s ON t.k = s.k),
        |mins AS (
        |  SELECT s.* FROM msrc s WHERE s.k NOT IN (SELECT k FROM pre4)),
        |merged AS (
        |  SELECT t.k, t.c,
        |         CASE WHEN s.k IS NOT NULL THEN s.cents ELSE t.cents END
        |           AS cents
        |  FROM pre4 t LEFT JOIN msrc s ON t.k = s.k
        |  UNION ALL SELECT * FROM mins),
        |changes AS (
        |  SELECT 'insert' AS ctype, 2 AS v, cents FROM v1set
        |  UNION ALL SELECT 'insert', 3, cents FROM f3
        |  UNION ALL SELECT 'update_preimage', 4, cents FROM mpre
        |  UNION ALL SELECT 'update_postimage', 4, cents FROM mpost
        |  UNION ALL SELECT 'insert', 4, cents FROM mins
        |  UNION ALL SELECT 'delete', 5, cents FROM merged
        |    WHERE c % 13 = 5)
        |SELECT ctype, CAST(v AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM changes GROUP BY ctype, v""".stripMargin),

    // ---- T104: nested types + nested field-id evolution -------------------
    Q("q196_nested_lakehouse", (s, d) => {
      // struct columns through the whole lakehouse tier, in plain SQL:
      // CTAS with a struct column, RENAME of a NESTED field
      // (metadata-only — old files keep serving the member through its
      // per-leaf field id), an INSERT under the renamed shape, DROP +
      // re-ADD of a nested name (fresh id: count(info.tag) is the
      // resurrection detector), a second feed, and an engine-planned
      // UPDATE rewriting structs across all three file generations
      // (catalyst parquet writers). The oracle replays the lifecycle
      // with FLAT columns — nesting must be a pure shape.
      lakeScope(s, "g196", "graft_ns_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g196_src")
        s.sql("DROP TABLE IF EXISTS g196.t")
        s.sql("""CREATE TABLE g196.t AS
                |SELECT k,
                |  named_struct('cents', cents,
                |    'tag', concat('g', CAST(k % 3 AS STRING))) AS info,
                |  c
                |FROM g196_src WHERE k % 3 < 2""".stripMargin)
        s.sql("ALTER TABLE g196.t RENAME COLUMN info.cents TO amount")
        s.sql("""INSERT INTO g196.t
                |SELECT k + 507000000,
                |  named_struct('amount', cents, 'tag', 'new'), c
                |FROM g196_src WHERE k % 10 = 4""".stripMargin)
        s.sql("ALTER TABLE g196.t DROP COLUMN info.tag")
        s.sql("ALTER TABLE g196.t ADD COLUMNS (info.tag STRING)")
        s.sql("""INSERT INTO g196.t
                |SELECT k + 607000000,
                |  named_struct('amount', cents + 5, 'tag', 'fresh'), c
                |FROM g196_src WHERE k % 10 = 6""".stripMargin)
        s.sql("""UPDATE g196.t SET info = named_struct(
                |  'amount', info.amount + 7, 'tag', info.tag)
                |WHERE k % 11 = 3""".stripMargin)
        s.sql(
          """SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(info.amount) AS BIGINT) AS amt,
            |  CAST(count(info.tag) AS BIGINT) AS n_tag
            |FROM g196.t WHERE c % 10 = 3
            |GROUP BY c""".stripMargin)
      }()
    },
      // q196 mirror: the nested-evolution lifecycle replayed with FLAT
      // columns — nested rename = aliasing, nested drop+re-add = every
      // prior row's tag NULLed (a resurrected dead id would inflate
      // n_tag), the UPDATE spans all three generations
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (
        |  SELECT k, c, cents AS amount FROM base WHERE k % 3 < 2),
        |f1 AS (
        |  SELECT k + 507000000 AS k, c, cents AS amount
        |  FROM base WHERE k % 10 = 4),
        |dropped AS (
        |  SELECT k, c, amount, CAST(NULL AS VARCHAR) AS tag FROM v1
        |  UNION ALL
        |  SELECT k, c, amount, CAST(NULL AS VARCHAR) AS tag FROM f1),
        |f2 AS (
        |  SELECT k + 607000000 AS k, c, cents + 5 AS amount,
        |         'fresh' AS tag
        |  FROM base WHERE k % 10 = 6),
        |cur AS (
        |  SELECT k, c,
        |         CASE WHEN k % 11 = 3 THEN amount + 7 ELSE amount END
        |           AS amount,
        |         tag
        |  FROM (SELECT * FROM dropped UNION ALL SELECT * FROM f2))
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(amount) AS BIGINT) AS amt,
        |  CAST(count(tag) AS BIGINT) AS n_tag
        |FROM cur WHERE c % 10 = 3
        |GROUP BY c""".stripMargin),

    // ---- T103: hidden partitioning + partition evolution ------------------
    Q("q195_hidden_partitioning", (s, d) => {
      // the Iceberg partition-spec lifecycle in plain SQL: CREATE
      // TABLE ... PARTITIONED BY (months(dt), bucket(8, k)) — every
      // commit lands tuple-local files stamped with their partition
      // tuple, scans prune manifest-level from the tuple (zero footer
      // reads; exact even for hash buckets), then the spec EVOLVES by
      // one metadata commit (CALL set_partition_spec) and later
      // inserts + a DELETE land under the new spec while old files
      // keep pruning under their write-time spec. The oracle replays
      // the lifecycle relationally — partitioning must be semantically
      // invisible; SourceFormatsSpec pins the pruning counts.
      lakeScope(s, "g195", "graft_hp_q", "t") { _ =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("c"), col("o_orderdate").as("dt"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .createOrReplaceTempView("g195_src")
        s.sql("DROP TABLE IF EXISTS g195.t")
        s.sql("""CREATE TABLE g195.t (k BIGINT, c BIGINT, dt DATE,
                |  cents BIGINT)
                |PARTITIONED BY (months(dt))""".stripMargin)
        s.sql("""INSERT INTO g195.t
                |SELECT k, c, dt, cents FROM g195_src
                |WHERE k % 3 < 2""".stripMargin)
        // partition EVOLUTION: one metadata commit — the next feed (and
        // the DELETE's rewrite) land bucket-local; the month files keep
        // their layout and keep pruning under it
        s.sql("CALL g195.system.set_partition_spec('t', 'bucket(8, k)')")
        s.sql("""INSERT INTO g195.t
                |SELECT k + 507000000, c, date_add(dt, 3), cents + 9
                |FROM g195_src WHERE k % 10 = 4""".stripMargin)
        s.sql("""DELETE FROM g195.t
                |WHERE c % 13 = 5 AND dt >= DATE'1996-01-01'""".stripMargin)
        s.sql(
          """SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS cents_sum
            |FROM g195.t
            |WHERE dt >= DATE'1995-01-01' AND dt < DATE'1996-07-01'
            |  AND c % 10 = 3
            |GROUP BY c""".stripMargin)
      }()
    },
      // q195 mirror: the partition lifecycle replayed relationally —
      // hidden partitioning and its evolution must be semantically
      // invisible (layout is a pure optimization)
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c, o_orderdate AS dt,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT k, c, dt, cents FROM base WHERE k % 3 < 2),
        |f2 AS (
        |  SELECT k + 507000000 AS k, c,
        |         CAST(dt + INTERVAL 3 DAY AS DATE) AS dt,
        |         cents + 9 AS cents
        |  FROM base WHERE k % 10 = 4),
        |cur AS (
        |  SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM f2)
        |  WHERE NOT (c % 13 = 5 AND dt >= DATE '1996-01-01'))
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM cur
        |WHERE dt >= DATE '1995-01-01' AND dt < DATE '1996-07-01'
        |  AND c % 10 = 3
        |GROUP BY c""".stripMargin),

    // ---- T74: data-quality expectation suite ----------------------------
    Q("q174_quality_audit", (s, d) => {
      // the pre-publication audit as ONE declarative suite
      // (AuditOps): every row-predicate check on a table folds into a
      // single conditional aggregate over a single scan (PlanAuditSpec
      // asserts one FileScan for the 4-check events suite);
      // key-uniqueness pays its one genuine shuffle; referential
      // integrity is a LeftAnti on the key column only. The suite
      // mixes GREEN checks (orderkey unique, no FK orphans, quantity
      // in range) with REAL violations (the 'error' event type,
      // values past 400, duplicated custkeys, pre-1996 staleness,
      // >8% discounts) so the report proves it counts, not rubber-
      // stamps. n_bad for uniqueness = Σ(multiplicity − 1) — the
      // minimum deletions to make the key unique.
      import graft.operators.AuditOps
      val ev = Tables.events(s, d)
      val evChecks = AuditOps.rowChecks(ev, Seq(
        "events.value_in_range" -> !col("value").between(0d, 400d),
        "events.type_accepted" ->
          !col("event_type").isin("click", "view", "purchase", "signup"),
        "events.user_id_not_null" -> col("user_id").isNull,
        "events.props_not_null" -> col("props").isNull))
      val li = Tables.lineitem(s, d)
      val liChecks = AuditOps.rowChecks(li, Seq(
        "lineitem.quantity_in_range" -> !col("l_quantity").between(1d, 50d),
        "lineitem.discount_le_8pct" -> (col("l_discount") > 0.08d)))
      val o = Tables.orders(s, d)
      val oChecks = AuditOps.rowChecks(o, Seq(
        "orders.status_accepted" -> !col("o_orderstatus").isin("O", "F", "P"),
        "orders.fresh_since_1996" ->
          (col("o_orderdate") < lit("1996-01-01").cast("date"))))
      evChecks.unionAll(liChecks).unionAll(oChecks)
        .unionAll(AuditOps.uniqueCheck("orders.orderkey_unique", o,
          Seq("o_orderkey")))
        .unionAll(AuditOps.uniqueCheck("orders.custkey_unique", o,
          Seq("o_custkey")))
        .unionAll(AuditOps.fkCheck("lineitem.orderkey_fk", li,
          "l_orderkey", o, "o_orderkey"))
    },
      // q174 mirror: one aggregate per check family, longhand — the
      // Spark side's single-scan folding is a PLAN property
      // (PlanAuditSpec), not a result property, so the oracle spells
      // each count independently
      """SELECT 'events.value_in_range' AS chk,
        |  CAST(sum(CASE WHEN NOT (value BETWEEN 0 AND 400)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  CAST(count(*) AS BIGINT) AS n_rows FROM events
        |UNION ALL
        |SELECT 'events.type_accepted',
        |  CAST(sum(CASE WHEN event_type NOT IN
        |    ('click', 'view', 'purchase', 'signup')
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'events.user_id_not_null',
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'events.props_not_null',
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'lineitem.quantity_in_range',
        |  CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.discount_le_8pct',
        |  CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders.status_accepted',
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.fresh_since_1996',
        |  CAST(sum(CASE WHEN o_orderdate < DATE '1996-01-01'
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.orderkey_unique',
        |  CAST(coalesce(sum(c - 1), 0) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'orders.custkey_unique',
        |  CAST(coalesce(sum(c - 1), 0) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)
        |UNION ALL
        |SELECT 'lineitem.orderkey_fk',
        |  CAST((SELECT count(*) FROM lineitem
        |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |    AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem""".stripMargin),

    // ---- T73: point-in-polygon join (geofencing containment) ------------
    Q("q172_point_in_polygon", (s, d) => {
      // the containment member of the spatial tier over q163's point
      // lattice: 25 deterministic octagon fences derived from nation
      // keys by pure arithmetic both engines compute identically —
      // center (k·37199 % 90000 + 5000, k·52711 % 90000 + 5000),
      // radius 3000 + (k % 5)·1500 (always divisible by 4, so the
      // (dir·r) DIV 4 vertex offsets are EXACT division and the
      // truncate-vs-floor DIV divergence on negatives never fires).
      // Spark runs the grid operator (bbox cell cover + one codegen'd
      // ray-parity HOF per candidate — SpatialOps.pointInPolygonJoin);
      // the DuckDB mirror runs the NAIVE points x edges crossing sum.
      // Same answer; |pts|·|edges| vs cell-bounded candidates is the
      // documented asymmetry. Grid ≡ brute force incl. non-convex and
      // self-intersecting polygons is property-tested in GraftProps.
      val pts = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        (col("c_custkey") * lit(48271L) % lit(99991L)).as("x"),
        (col("c_custkey") * lit(69621L) % lit(99991L)).as("y"))
      val vsExpr = PipDirs.map { case (dx, dy) =>
        s"struct(CAST(cx + ($dx * r) DIV 4 AS BIGINT) AS x, " +
          s"CAST(cy + ($dy * r) DIV 4 AS BIGINT) AS y)" }
        .mkString("array(", ", ", ")")
      val polys = Tables.nation(s, d).selectExpr(
        "CAST(n_nationkey AS BIGINT) AS poly_id",
        "(n_nationkey * 37199) % 90000 + 5000 AS cx",
        "(n_nationkey * 52711) % 90000 + 5000 AS cy",
        "3000 + (n_nationkey % 5) * 1500 AS r")
        .selectExpr("poly_id", s"$vsExpr AS vs")
      SpatialOps.pointInPolygonJoin(pts, polys, cell = 8192L)
    },
      // q172 mirror: the NAIVE points × edges crossing sum — no grid, no
      // bbox; the same integer ray-parity rule (exact DIV 4 keeps the
      // truncate-vs-floor divergence dormant), so equality proves the
      // grid candidate generation lossless
      {
        val edgeVals = PipDirs.zipWithIndex.map { case ((dx, dy), i) =>
          val (ex, ey) = PipDirs((i + 1) % PipDirs.size)
          s"($dx, $dy, $ex, $ey)"
        }.mkString(", ")
        s"""WITH pts AS (
           |  SELECT c_custkey AS pid, (c_custkey * 48271) % 99991 AS px,
           |         (c_custkey * 69621) % 99991 AS py FROM customer),
           |polys AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
           |         (n_nationkey * 37199) % 90000 + 5000 AS cx,
           |         (n_nationkey * 52711) % 90000 + 5000 AS cy,
           |         3000 + (n_nationkey % 5) * 1500 AS r FROM nation),
           |dirs(dx, dy, ex, ey) AS (VALUES $edgeVals),
           |edges AS (
           |  SELECT poly_id,
           |         cx + (dx * r) // 4 AS x1, cy + (dy * r) // 4 AS y1,
           |         cx + (ex * r) // 4 AS x2, cy + (ey * r) // 4 AS y2
           |  FROM polys, dirs),
           |par AS (
           |  SELECT pid, poly_id,
           |    sum(CASE WHEN (y1 > py) <> (y2 > py)
           |          AND ((y2 > y1
           |                AND (px - x1) * (y2 - y1) < (py - y1) * (x2 - x1))
           |            OR (y2 < y1
           |                AND (px - x1) * (y2 - y1) > (py - y1) * (x2 - x1)))
           |        THEN 1 ELSE 0 END) AS k
           |  FROM pts, edges GROUP BY pid, poly_id)
           |SELECT pid, poly_id FROM par WHERE k % 2 = 1""".stripMargin
      }),

    // ---- T66: snapshot reconciliation (bucket-fingerprint table diff) ---
    Q("q164_snapshot_diff", (s, d) => {
      // the migration-sign-off / drift-detection operator: classify
      // every row two snapshots disagree on WITHOUT full-outer-joining
      // the snapshots — bucket fingerprints (count + Σ 60-bit md5
      // digest, map-side-combinable, |buckets| output rows) locate the
      // drifted key ranges, then only those buckets rescan into the
      // row-level classify (ReconcileOps.snapshotDiff). The drifted
      // snapshot v2 derives deterministically in-query so the oracle
      // can mirror it: 200 deletions ([2000,2200)), 300 amendments
      // ([5000,5300) priority rewritten), 50 inserts (keys +107e6,
      // far above any ScaleBench replica stride) — drift LOCALIZED in
      // the key space, so 5 of ~59 buckets mismatch (pruning pinned in
      // ReconcileSpec). The DuckDB mirror runs the NAIVE form — full
      // outer join of both entire snapshots on the key — same answer:
      // a data-sized shuffle per side vs fingerprint partials + a
      // drift-sized drill is the documented asymmetry. Canonical
      // content renders engine-portably: cents as BIGINT (never
      // double→string), epoch seconds (unix_seconds ≡ date_diff), and
      // the md5 of identical strings is identical hex both engines.
      val o = Tables.orders(s, d)
      val v2 = o.filter(!col("o_orderkey").between(2000L, 2199L))
        .withColumn("o_orderpriority",
          when(col("o_orderkey").between(5000L, 5299L), lit("AMENDED"))
            .otherwise(col("o_orderpriority")))
        .unionByName(o.filter(col("o_orderkey").between(100L, 149L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(107000000L)))
      def keyed(df: DataFrame) = df.select(
        col("o_orderkey").as("k"),
        concat_ws("|", col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long"),
          // NTZ parquet column → session-zoned (UTC) first; identity
          // wall-clock, and unix_seconds requires TIMESTAMP
          expr("unix_seconds(CAST(o_orderdate AS TIMESTAMP))"),
          col("o_orderpriority")).as("canon"))
      ReconcileOps.snapshotDiff(keyed(o), keyed(v2), bucketWidth = 256L)
    },
      // q164 mirror: the NAIVE form — full outer join of both ENTIRE
      // snapshots on the key (a data-sized shuffle per side, every run,
      // however small the drift); the Spark side's fingerprint partials
      // + drift-sized drill produce the same rows
      """WITH v2 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate,
        |    CASE WHEN o_orderkey BETWEEN 5000 AND 5299 THEN 'AMENDED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey NOT BETWEEN 2000 AND 2199
        |  UNION ALL
        |  SELECT o_orderkey + 107000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey BETWEEN 100 AND 149),
        |a AS (
        |  SELECT o_orderkey AS k, md5(concat_ws('|', o_orderkey,
        |    o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT),
        |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |      o_orderdate),
        |    o_orderpriority)) AS m
        |  FROM orders),
        |b AS (
        |  SELECT o_orderkey AS k, md5(concat_ws('|', o_orderkey,
        |    o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT),
        |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |      o_orderdate),
        |    o_orderpriority)) AS m
        |  FROM v2)
        |SELECT coalesce(a.k, b.k) AS k,
        |  CASE WHEN a.k IS NULL THEN 'added'
        |       WHEN b.k IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM a FULL JOIN b ON a.k = b.k
        |WHERE a.k IS NULL OR b.k IS NULL OR a.m <> b.m""".stripMargin),

    // ---- T48: recursive CTE (iterative in-engine computation) -----------
    Q("q147_recursive_chain", (s, d) => {
      // WITH RECURSIVE — new in Spark 4 (SPARK-24497) and the last
      // big warehouse-SQL construct this surface lacked: hierarchy
      // walks, BOM explosions, reachability. Here every supplier walks
      // a synthetic parent chain (parent = key DIV 10 — a
      // real-data-derived tree with depth = the key's digit count)
      // down to the root, aggregating per-origin depth/length/ancestor
      // sums — all-integer, so the hash compare pins the full
      // recursion cross-engine (DuckDB runs the same recursion with //
      // for DIV). Scale shape: the anchor and the step are ORDINARY
      // distributed plans; the engine iterates the step until the
      // frontier empties (UnionLoop), so total work is
      // Σ_depth |frontier_d| — depth-bounded here (≤ digits), with
      // per-iteration cost an equi-projection, never a driver loop
      // (contrast q71's driver-side label propagation, which predates
      // engine recursion and owns the convergence-test variant).
      Tables.supplier(s, d).createOrReplaceTempView("graft_q147_supplier")
      s.sql(
        """WITH RECURSIVE chain(k, anc, depth) AS (
          |  SELECT s_suppkey, s_suppkey, 0 FROM graft_q147_supplier
          |  UNION ALL
          |  SELECT k, anc DIV 10, depth + 1 FROM chain WHERE anc > 0)
          |SELECT k AS s_suppkey, CAST(max(depth) AS BIGINT) AS depth_to_root,
          |  CAST(count(*) AS BIGINT) AS chain_len,
          |  CAST(sum(anc) AS BIGINT) AS anc_sum
          |FROM chain GROUP BY k""".stripMargin)
    },
      // q147 mirror: the same recursion with DuckDB's // for DIV (both
      // truncate identically on the non-negative keys here)
      """WITH RECURSIVE chain(k, anc, depth) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM supplier
        |  UNION ALL
        |  SELECT k, anc // 10, depth + 1 FROM chain WHERE anc > 0)
        |SELECT k AS s_suppkey, CAST(max(depth) AS BIGINT) AS depth_to_root,
        |  CAST(count(*) AS BIGINT) AS chain_len,
        |  CAST(sum(anc) AS BIGINT) AS anc_sum
        |FROM chain GROUP BY k""".stripMargin),

    // ---- T47: the ranking-function family under ties --------------------
    Q("q146_rank_family", (s, d) => {
      // rank / dense_rank / percent_rank / cume_dist / ntile in one
      // query — the analytics surface q23's row_number only samples.
      // The semantics worth pinning are TIE behavior: rank leaves gaps,
      // dense_rank doesn't, percent_rank = (rank−1)/(n−1) and
      // cume_dist = |peers ≤ x|/n are tie-deterministic BY DEFINITION
      // (they depend only on the order key, so a non-unique ORDER BY is
      // safe), while ntile SPLITS peers across tiles and is only
      // deterministic over a unique order — hence the two WINDOW
      // clauses, which is itself the teaching point. The two ratio
      // columns are single IEEE divisions of exact integers —
      // bit-identical cross-engine.
      Tables.lineitem(s, d).createOrReplaceTempView("graft_q146_lineitem")
      s.sql(
        """SELECT l_orderkey, l_linenumber,
          |  CAST(rank() OVER wt AS BIGINT) AS rnk,
          |  CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
          |  percent_rank() OVER wt AS prnk,
          |  cume_dist() OVER wt AS cdist,
          |  CAST(ntile(4) OVER wu AS BIGINT) AS quartile
          |FROM graft_q146_lineitem WHERE l_orderkey < 2000
          |WINDOW
          |  wt AS (PARTITION BY l_returnflag ORDER BY l_quantity),
          |  wu AS (PARTITION BY l_returnflag
          |         ORDER BY l_quantity, l_orderkey, l_linenumber)"""
          .stripMargin)
    },
      // q146 mirror: identical text modulo the view name; the CASTs align
      // Spark's INT rank outputs with DuckDB's BIGINT
      """SELECT l_orderkey, l_linenumber,
        |  CAST(rank() OVER wt AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
        |  percent_rank() OVER wt AS prnk,
        |  cume_dist() OVER wt AS cdist,
        |  CAST(ntile(4) OVER wu AS BIGINT) AS quartile
        |FROM lineitem WHERE l_orderkey < 2000
        |WINDOW
        |  wt AS (PARTITION BY l_returnflag ORDER BY l_quantity),
        |  wu AS (PARTITION BY l_returnflag
        |         ORDER BY l_quantity, l_orderkey, l_linenumber)""".stripMargin),

    // ---- T46: time-interval RANGE window frame --------------------------
    Q("q145_range_frame", (s, d) => {
      // The trailing-time-window idiom every monitoring/feature pipeline
      // writes — "events and spend in the last hour, per user, at every
      // event" — via a RANGE frame over event time (q58's running
      // frames are ROWS frames; RANGE is the time-based member). The
      // semantics worth pinning cross-engine: a RANGE frame includes
      // ALL PEERS of the current ts, so ties contribute symmetrically
      // and the result is deterministic under any tie order (a ROWS
      // frame would depend on it — exactly why naive ports of this
      // query go nondeterministic). Sum is integer cents. Scale: one
      // hash exchange on user_id + per-partition sort — the frame
      // bound evicts state at |events-in-window| per key, the same
      // bounded-state story as the streaming watermark twin (q44).
      Tables.events(s, d).createOrReplaceTempView("graft_q145_events")
      s.sql(
        """SELECT user_id, ts, event_id,
          |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
          |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)
          |    AS cents_1h
          |FROM graft_q145_events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
          |                       AND CURRENT ROW)""".stripMargin)
    },
      // q145 mirror: identical WINDOW clause text — RANGE peers semantics
      // is the cross-engine claim
      """SELECT user_id, ts, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)
        |    AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
        |                       AND CURRENT ROW)""".stripMargin),

    // ---- T39b: forward as-of join (merge_asof direction='forward') ------
    Q("q144_asof_forward", (s, d) => {
      // purchase → the NEXT click at-or-after it by the same user: the
      // follow-up/response attribution read, completing the as-of
      // direction pair (q52 backward, q133 backward+tolerance). Same
      // join-free plan — one union, one window on the key — with the
      // frame flipped to currentRow..following and `first` instead of
      // `last`; equal-ts clicks match (>= semantics), pinned in
      // TemporalOpsSpec.
      val e = Tables.events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      TemporalOps.asofJoin(purchases, clicks, "user_id", "ts",
          forward = true)
        .select(col("event_id"), col("user_id"), col("ts"),
                col("asof_ts"), col("asof_click_id"))
    },
      // q144 mirror: q52's shape with the direction flipped — min(c.ts)
      // over c.ts >= p.ts is the earliest at-or-after match
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
        |             FROM events WHERE event_type='click' GROUP BY 1, 2),
        |     p AS (SELECT user_id, ts, event_id
        |             FROM events WHERE event_type='purchase'),
        |     m AS (SELECT p.event_id, p.user_id, p.ts, min(c.ts) AS asof_ts
        |             FROM p LEFT JOIN c
        |               ON c.user_id = p.user_id AND c.ts >= p.ts
        |            GROUP BY 1, 2, 3)
        |SELECT m.event_id, m.user_id, m.ts, m.asof_ts,
        |       c.click_id AS asof_click_id
        |  FROM m LEFT JOIN c
        |    ON c.user_id = m.user_id AND c.ts = m.asof_ts""".stripMargin),

    Q("q143_lateral_left", (s, d) => {
      // LEFT JOIN LATERAL: customers keep a NULL-extended row when the
      // lateral aggregate matches nothing — the outer-join face of
      // decorrelation (count coalesces to 0 on no match, q138's trap,
      // here through the FROM-clause spelling)
      Tables.customer(s, d).createOrReplaceTempView("graft_q143_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q143_orders")
      s.sql(
        s"""SELECT c.c_custkey, t.n_hi, t.max_price
           |FROM graft_q143_customer c LEFT JOIN LATERAL (
           |  SELECT CAST(count(*) AS BIGINT) AS n_hi,
           |         max(o_totalprice) AS max_price
           |  FROM graft_q143_orders o
           |  WHERE o.o_custkey = c.c_custkey
           |    AND o.o_totalprice > $SubqPriceHi) t ON true
           |WHERE c.c_custkey < 300""".stripMargin)
    },
      s"""SELECT c.c_custkey, t.n_hi, t.max_price
         |FROM customer c LEFT JOIN LATERAL (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hi,
         |         max(o_totalprice) AS max_price
         |  FROM orders o
         |  WHERE o.o_custkey = c.c_custkey
         |    AND o.o_totalprice > $SubqPriceHi) t ON true
         |WHERE c.c_custkey < 300""".stripMargin),
  )

  private val ZBits = 8 // 256 cells per dimension → 16-bit z space
}
