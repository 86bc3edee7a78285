package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.BBox

/** Relational operators covering the reference's inventory (SURVEY.md §2),
  * re-expressed as pure, composable DataFrame transforms.
  *
  * Design for scale: every function here is declarative (Column expressions
  * only — no UDFs, no collect), so Catalyst pushes the filters into the
  * parquet scan, prunes columns, and keeps the whole pipeline inside
  * whole-stage codegen. The reference's driver-side month loop
  * (`/root/reference/src/OverSpeedCount.scala:42-129`) disappears entirely:
  * a partitioned table + a range predicate gives the same pruning without
  * serializing one Spark job per month.
  */
object TrafficOps {

  // ---- Filters (SURVEY §2.3) -------------------------------------------

  /** F3: 2-D bounding-box predicate — conjunction of two BETWEENs
    * (ref: `src/OverSpeedCount.scala:36`). Pushed to the parquet scan as
    * four range filters; at 100 TB pair it with spatial partitioning
    * (e.g. geohash prefix as a partition column) for pruning.
    */
  def bboxFilter(df: DataFrame, x: String, y: String, box: BBox): DataFrame =
    df.filter(col(x).between(box.xLo, box.xHi) &&
              col(y).between(box.yLo, box.yHi))

  // ---- Joins (SURVEY §2.5) ---------------------------------------------

  /** JN1: small×big equi join, dimension side broadcast.
    * The reference caches the bbox-filtered site-id table and joins it to
    * each month slice (`src/OverSpeedCount.scala:119`); a bbox-filtered
    * dimension is small by construction, so broadcasting removes the
    * shuffle of the (huge) fact side entirely — the single most important
    * plan property at 100 TB.
    */
  def broadcastDimJoin(facts: DataFrame, dim: DataFrame,
                       factKey: String, dimKey: String): DataFrame =
    facts.join(broadcast(dim), facts(factKey) === dim(dimKey), "inner")

  /** Salted equi join for extreme key skew (the explicit form of what AQE
    * skew-join does adaptively): the big side gets a deterministic salt
    * in [0, salts) from a non-key column, the small side is exploded to
    * every salt value, and the join key becomes (key, salt) — a hot key's
    * rows spread over `salts` reducers instead of one. Result is exactly
    * the plain equi join (oracle-checked, q50); cost is a `salts`×
    * replication of the SMALL side only. A NULL `saltSource` row maps to
    * salt 0 (coalesce) rather than a NULL salt — pmod(NULL) would never
    * match any exploded salt and silently drop the row, breaking the
    * exact-equivalence contract on nullable salt columns.
    */
  def saltedEquiJoin(big: DataFrame, small: DataFrame,
                     bigKey: String, smallKey: String,
                     saltSource: Column, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      pmod(coalesce(saltSource, lit(0)), lit(salts)).cast("int"))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall,
        saltedBig(bigKey) === saltedSmall(smallKey) &&
          saltedBig("_salt") === saltedSmall("_salt"), "inner")
      .drop("_salt")
  }

  /** JN2: equi + interval (band) join — point-in-interval matching
    * (ref `src/OverSpeedCount.scala:123`: camera observation time inside
    * the toll trip's [entry, exit] window, keyed by plate).
    * Physical shape: shuffle/broadcast hash join on the equi key with the
    * band condition as a residual filter — never a nested-loop join.
    * At scale, hot equi keys (fleet plates) skew: AQE skew-join handles
    * moderate skew; extreme skew → salt the fact side on
    * (key, bucket(pointTs)).
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   pointKey: String, intervalKey: String,
                   pointTs: Column, lo: Column, hi: Column): DataFrame =
    points.join(intervals,
      points(pointKey) === intervals(intervalKey) && pointTs.between(lo, hi),
      "inner")

  /** JN2's documented scale variant: the banded (skew-resistant) form of
    * [[intervalJoin]] — the q53 time-bucket trick applied to the
    * equi+interval family (SURVEY §4.3 names per-plate skew as JN2's
    * known hazard: a fleet plate's rows all land on ONE reducer when the
    * equi key alone decides the shuffle).
    *
    * Both sides shuffle on (key, band) where band = floor(ts / bandSec):
    * a hot plate's observations spread over its time range's bands
    * instead of one partition, and the residual BETWEEN rides inside the
    * hash join exactly as in the plain form. The interval side explodes
    * to every band its [lo, hi] overlaps — each matching pair is found
    * exactly ONCE (the point's single band b satisfies band(lo) ≤ b ≤
    * band(hi) whenever the pair matches, and the exploded sequence
    * contains b once), so the result is multiset-equal to the residual
    * form (GraftProps pins this on adversarially skewed plates).
    *
    * Cost model: interval replication = span/bandSec + 1 rows, so pick
    * bandSec ≈ the typical interval length (replication ≈ 2×) — the same
    * sizing rule as q53's neighbor buckets. NULL timestamps and lo > hi
    * intervals produce no pairs in either form (BETWEEN is never true),
    * keeping the equivalence contract exact on dirty data.
    */
  def intervalJoinBanded(points: DataFrame, intervals: DataFrame,
                         pointKey: String, intervalKey: String,
                         pointTs: Column, lo: Column, hi: Column,
                         bandSec: Long): DataFrame = {
    require(bandSec > 0, s"bandSec must be positive, got $bandSec")
    val bandUs = bandSec * 1000000L
    val p = points.withColumn("_band",
      floor(unix_micros(pointTs.cast("timestamp")) / bandUs))
    val iv = intervals.withColumn("_band",
      explode(sequence(floor(unix_micros(lo.cast("timestamp")) / bandUs),
                       floor(unix_micros(hi.cast("timestamp")) / bandUs))))
    p.join(iv,
        p(pointKey) === iv(intervalKey) && p("_band") === iv("_band") &&
          pointTs.between(lo, hi), "inner")
      .drop("_band")
  }

  /** JN3: disjunctive-key join (`ON a.k = b.k1 OR a.k = b.k2`) — the
    * reference abandoned this because it forces a nested-loop join
    * (`src/OverSpeedCount.scala:122`, commented out). The scalable rewrite:
    * UNION of two equi joins + DISTINCT on the output key pair. Each leg is
    * a hash join; dedup is a hash aggregate — no cartesian anywhere.
    *
    * The right side is broadcast: it's a dimension by construction, and one
    * of its keys is typically low-cardinality (the reference's exit-plate
    * analog), so a shuffled join on that leg would explode rows *through* a
    * full shuffle. Broadcasting means only the DISTINCT on the already
    * projected (narrow) key pair ever shuffles — partial aggregation
    * collapses most duplicates map-side first.
    */
  def disjunctiveKeyJoin(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey1: String, rightKey2: String,
                         outCols: Seq[String]): DataFrame = {
    val dim = broadcast(right)
    val j1 = left.join(dim, left(leftKey) === right(rightKey1), "inner")
      .select(outCols.map(col): _*)
    val j2 = left.join(dim, left(leftKey) === right(rightKey2), "inner")
      .select(outCols.map(col): _*)
    j1.unionAll(j2).distinct()
  }

  // ---- Classification + aggregation (SURVEY §2.6) ----------------------

  /** One-pass vehicle-class tagging, replacing the reference's 4-query
    * fan-out (4 separate scans of the cached slice with different WHERE
    * clauses, `src/OverSpeedCount.scala:133-136`). A single CASE column +
    * one grouped aggregate reads the data once — at 100 TB that is a 4×
    * scan reduction.
    *
    * Reference classes (class = EXVEHCLASS, truck = EXTRUCKFLAG, v = CLSD):
    *   01: class=1, truck=0, v>120   02: class>1, truck=0, v>120
    *   03: class=1, truck=1, v>120   04: class>1, truck=1, v>100
    */
  def carType(classCol: Column, truckCol: Column, speed: Column,
              fastThresh: Double, slowThresh: Double): Column =
    when(classCol === 1 && truckCol === 0 && speed > fastThresh, "01")
      .when(classCol > 1 && truckCol === 0 && speed > fastThresh, "02")
      .when(classCol === 1 && truckCol === 1 && speed > fastThresh, "03")
      .when(classCol > 1 && truckCol === 1 && speed > slowThresh, "04")

  /** A1: COUNT(*) grouped by an hour-like bucket
    * (ref `src/AccidentStatistics.scala:105`). Partial (map-side) + final
    * hash aggregation is automatic; output is ≤24×|classes| rows.
    */
  def hourlyCount(df: DataFrame, bucket: Column, extra: Column*): DataFrame = {
    val keys = bucket.as("time_period") +: extra
    df.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
  }
}
