package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BBox
import graft.operators.TrafficOps
import graft.sources.CsvIngest
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** The reference's public API (SURVEY §2.11 X1–X5,
  * `/root/reference/src/TrafficStatistics.scala`), rebuilt Spark-first.
  *
  * Same data layout on disk as the reference
  * (`base/<YYYYMM>/<YYYYMM>CSYDATA.csv` etc., FIXTURES.md §1.5), same
  * three query semantics, but:
  *  - ONE declarative plan per query instead of a driver loop running one
  *    Spark job per month (`src/OverSpeedCount.scala:42-129`). Month
  *    pruning happens at path-selection time (the scalable analog of
  *    partition pruning for this layout); everything after is one job.
  *  - The 4-per-class query fan-out collapses into a single grouped pass
  *    with a CASE classification column (4× fewer scans).
  *  - The bbox-filtered site dimension is broadcast, so the fact side
  *    never shuffles for JN1; the interval join JN2 hashes on the plate
  *    equi key with the time-band as residual.
  *  - typed parameters, no string-concatenated SQL.
  *
  * Cached exactly at the reference's two reuse points: the bbox site ids
  * and the joined slice read by multiple aggregates
  * (`src/OverSpeedCount.scala:38,125`).
  */
class TrafficAnalytics(spark: SparkSession, dataPath: String) {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private def months(start: LocalDate, endIncl: LocalDate): Seq[String] = {
    val s = start.withDayOfMonth(1)
    Iterator.iterate(s)(_.plusMonths(1)).takeWhile(!_.isAfter(endIncl))
      .map(d => f"${d.getYear}%04d${d.getMonthValue}%02d").toSeq
  }
  // only the month files that exist: a window reaching past the data
  // reads what is there, and a window with no files reads zero rows
  private lazy val fs = new org.apache.hadoop.fs.Path(dataPath)
    .getFileSystem(spark.sessionState.newHadoopConf())
  private def monthFiles(ms: Seq[String], suffix: String) =
    ms.map(m => s"$dataPath/$m/$m$suffix")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
  private def speedPaths(ms: Seq[String]) = monthFiles(ms, "CSYDATA.csv")
  private def feePaths(ms: Seq[String]) = monthFiles(ms, "SFZDATA.csv")

  /** Shared core of OverSpeed/AverageSpeed (SURVEY §3.2–3.3): bbox sites
    * (broadcast) ⋈ speed obs ⋈ toll trips (equi plate + time-in-interval),
    * classified in one pass. Returns
    * (hour, CLSD, EXVEHCLASS, EXTRUCKFLAG).
    */
  private def classifiedObservations(box: BBox, startIncl: LocalDate,
                                     endExcl: LocalDate): DataFrame = {
    val ms = months(startIncl, endExcl.minusDays(1))
    val sites = TrafficOps.bboxFilter(
        CsvIngest.readSpeedBase(spark, s"$dataPath/speed_base.csv"),
        "LON", "LAT", box)
      .select(col("GDCSYBM"))
    val lo = lit(startIncl.format(fmt)).cast("timestamp")
    val hi = lit(endExcl.format(fmt)).cast("timestamp")
    val speed = CsvIngest.readSpeedData(spark, speedPaths(ms))
      .filter(col("WZSJ_TS") >= lo && col("WZSJ_TS") < hi)
    val fee = CsvIngest.readFeeData(spark, feePaths(ms))
    val sited = TrafficOps.broadcastDimJoin(speed, sites, "SITE_GUID", "GDCSYBM")
    sited.join(fee,
        sited("HPHM") === fee("ENVEHPLATE") &&
          sited("WZSJ_TS").between(fee("ENTIME_TS"), fee("EXTIME_TS")),
        "inner")
      .select(hour(col("WZSJ_TS")).cast("long").as("hour"),
              to_date(col("WZSJ_TS")).as("obs_date"),
              col("CLSD"), col("EXVEHCLASS"), col("EXTRUCKFLAG"))
  }

  private def withCarType(df: DataFrame): DataFrame =
    df.withColumn("car_type",
        TrafficOps.carType(col("EXVEHCLASS"), col("EXTRUCKFLAG"),
                           col("CLSD"), 120, 100))
      .filter(col("car_type").isNotNull)

  /** X4 / SURVEY §3.1: accidents per hour inside bbox × [start, end]
    * (end inclusive via the reference's `plusDays(1)`,
    * `src/AccidentStatistics.scala:57`).
    */
  def accidentCount(box: BBox, startDate: String, endDate: String): DataFrame = {
    val lo = lit(startDate).cast("timestamp")
    val hi = lit(LocalDate.parse(endDate, fmt).plusDays(1).format(fmt))
      .cast("timestamp")
    val acc = CsvIngest.readAccidents(spark, s"$dataPath/TF_ZFZD_CASESPECIFICATION.csv")
      .filter(col("CASE_TS").between(lo, hi))
      .filter(col("CASELONGITUDE").between(box.xLo, box.xHi) &&
              col("CASELATITUDE").between(box.yLo, box.yHi))
    acc.groupBy(hour(col("CASE_TS")).cast("long").as("time_period"))
      .agg(count(lit(1)).as("accident_num"))
  }

  /** X2 / SURVEY §3.2: over-speed violations per hour × vehicle class.
    * One grouped pass replaces the reference's 4 filtered aggregates
    * (`src/OverSpeedCount.scala:133-136`).
    */
  def overSpeedCount(box: BBox, startDate: String, endDate: String): DataFrame = {
    val obs = withCarType(classifiedObservations(box,
      LocalDate.parse(startDate, fmt),
      LocalDate.parse(endDate, fmt).plusDays(1)))
    obs.groupBy(col("hour").as("time_period"), col("car_type"))
      .agg(count(lit(1)).as("overspeed_num"))
  }

  /** X3 / SURVEY §3.3: average speed per hour × vehicle class, query date
    * (`time_point=1`) vs trailing 30 days (`time_point=0`).
    *
    * Two documented divergences from the literal reference: the "today"
    * slice filters on the QUERY date (the reference filters on
    * `date − 30 days` — bug, SURVEY F4), and class thresholds don't apply
    * to averages (the reference averages ALL matched observations per
    * class — only the class/truck split matters here; speed thresholds
    * stay in overSpeedCount). The 30-day window includes the query date,
    * as in the reference.
    */
  def averageSpeed(box: BBox, date: String): DataFrame = {
    val d = LocalDate.parse(date, fmt)
    val obs = classifiedObservations(box, d.minusDays(30), d.plusDays(1))
      .withColumn("car_type",
        when(col("EXVEHCLASS") === 1 && col("EXTRUCKFLAG") === 0, "01")
          .when(col("EXVEHCLASS") > 1 && col("EXTRUCKFLAG") === 0, "02")
          .when(col("EXVEHCLASS") === 1 && col("EXTRUCKFLAG") === 1, "03")
          .when(col("EXVEHCLASS") > 1 && col("EXTRUCKFLAG") === 1, "04"))
      .filter(col("car_type").isNotNull)
      .cache() // the reference's second reuse point: read twice below

    // today = query date only; history = full trailing window (incl. today,
    // matching the reference's [start, end+1d) scan, SURVEY §3.3).
    val today = obs.filter(col("obs_date") === lit(date).cast("date"))
    def agg(df: DataFrame, tp: Long): DataFrame =
      df.groupBy(col("hour").as("time_period"), col("car_type"))
        .agg(avg(col("CLSD")).as("avg_speed"))
        .withColumn("time_point", lit(tp))
    val out = agg(today, 1L).unionAll(agg(obs, 0L))
    // S6 scoped uncache (ref releases its slice mid-query,
    // `/root/reference/src/AverageSpeed.scala:117`): pin the ≤24×4×2-row
    // result, release the cache before returning — a long-lived host-app
    // session must not accumulate per-query cached slices.
    val rows = out.collect()
    obs.unpersist(blocking = true)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** S4: the reference's host-app sink — JSON strings collected to the
    * driver (`src/AccidentStatistics.scala:105-107`). Only for final,
    * small (≤24×classes rows) aggregates.
    */
  def toJsonList(df: DataFrame): java.util.List[String] =
    df.toJSON.collect().toList.asJava

  /** S7: temp-view catalog surface. The reference names every intermediate
    * so host-side SQL can reference it (`registerTempTable`,
    * `src/OverSpeedCount.scala:35-124`); the rebuild keeps direct DataFrame
    * refs internally but exposes the same naming seam for host apps:
    * register a pipeline output, query it with `spark.sql`, drop it when
    * done.
    */
  def register(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  def dropView(name: String): Unit =
    spark.catalog.dropTempView(name): Unit

  /** X5. */
  def destroy(): Unit = { spark.catalog.clearCache() }
}
