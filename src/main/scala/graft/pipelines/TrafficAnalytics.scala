package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BBox
import graft.functions.Param
import graft.operators.TrafficOps
import graft.sources.CsvIngest
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.io.FileNotFoundException
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
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
  *    with a CASE classification column (4× fewer scans); `averageSpeed`
  *    computes its today and trailing-window averages in that same pass.
  *  - The bbox-filtered site dimension is broadcast, so the fact side
  *    never shuffles for JN1. The interval join JN2 is banded on
  *    (plate, day) ([[TrafficOps.intervalJoinBanded]]): a fleet plate's
  *    observations meet only the trips of their own day, not every trip
  *    of the plate. A trip is replicated once per day it touches (trips
  *    last hours), and one crossing midnight still matches on both days.
  *  - Parameters: typed, no string-concatenated SQL, and bound as
  *    [[Param]]s, not literals. Every value that changes from call to
  *    call (the box, the window's bounds, `averageSpeed`'s query date)
  *    is one. Whole-stage codegen writes a literal into the generated
  *    Java source, so each new box or date compiled the call's stages
  *    again (on the FIXTURES.md §1 files, 2, 6 and 7 Janino compiles per
  *    `accidentCount`, `overSpeedCount` and `averageSpeed`); a parameter
  *    is read from the generated class's references, so a call with new
  *    values reuses the classes compiled for the last one. What it gives
  *    up: a predicate on a parameter is not pushed into a scan and does
  *    not prune cached batches. No CSV filter was pushed before either:
  *    the predicates sit on derived columns (`CASE_TS`, LON/LAT after
  *    `try_cast`). On the cached copies of sites and speed rows, batch
  *    pruning on LON/LAT and `WZSJ_TS` skips nothing while a file's rows
  *    are not ordered by them (as in the benchmark's inputs); a file
  *    sorted on one of them loses that pruning.
  *
  * Parse cache: each instance parses `speed_base.csv` and each month's
  * `CSYDATA`/`SFZDATA` file once, into a persisted copy
  * (`MEMORY_AND_DISK`) keyed on the file's path, length and modification
  * time; a call unions the copies of the months it reads, and a file
  * whose length or mtime changed is re-parsed. The accident file is read
  * afresh by every `accidentCount`: it grows between calls and is read
  * once per call, so a copy would never be reused. The copies are this
  * instance's own: each is filtered on its own id, a filter the
  * optimizer removes but that makes its plan unlike any other reader's
  * of the same file, so the session's cache never serves one to another
  * reader. Limits:
  *  - the copies of every file touched are retained until [[destroy]];
  *  - their memory is bounded by Spark's storage memory, and blocks that
  *    do not fit spill to local disk;
  *  - a rewrite that keeps both length and mtime goes undetected;
  *  - a lost block is recomputed from the file as it is then, which may
  *    differ from the parse it replaces.
  */
class TrafficAnalytics(spark: SparkSession, dataPath: String) {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private def months(start: LocalDate, endIncl: LocalDate): Seq[String] = {
    val s = start.withDayOfMonth(1)
    Iterator.iterate(s)(_.plusMonths(1)).takeWhile(!_.isAfter(endIncl))
      .map(d => f"${d.getYear}%04d${d.getMonthValue}%02d").toSeq
  }

  /** JN2's band: one day. A trip lasts hours, so it is replicated into
    * one band, or two when it crosses midnight.
    */
  private val JoinBandSec = 86400L

  private lazy val fs = new Path(dataPath)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private val parsed = mutable.HashMap.empty[String, TrafficAnalytics.Parsed]

  /** The parsed copy of the file at `path`, or None if there is no such
    * file: the cached copy while the file's length and mtime are those
    * it was parsed at, else a fresh parse that replaces it.
    */
  private def parsedFile(path: String)(parse: String => DataFrame)
      : Option[DataFrame] = parsed.synchronized {
    val status = try Some(fs.getFileStatus(new Path(path)))
                 catch { case _: FileNotFoundException => None }
    val current = parsed.get(path).filter(c => status.exists(s =>
      s.getLen == c.length && s.getModificationTime == c.mtime))
    if (current.isEmpty) {
      parsed.remove(path).foreach(_.df.unpersist(blocking = false))
      // the session's cache matches copies by analyzed plan: a filter on
      // the copy's own id keeps any other read of the file from being
      // served this copy, and unpersisting it from dropping another
      // reader's. The optimizer removes the always-true filter, so the
      // cached rows carry no id
      status.foreach { s =>
        parsed(path) = TrafficAnalytics.Parsed(s.getLen, s.getModificationTime,
          parse(path).filter(lit(UUID.randomUUID().toString).isNotNull)
            .persist(StorageLevel.MEMORY_AND_DISK))
      }
    }
    parsed.get(path).map(_.df)
  }

  /** The parsed copies of the months' files that exist, as one frame; a
    * window reaching past the data reads what is there, and a window
    * with no files reads zero rows.
    */
  private def monthFrames(ms: Seq[String], suffix: String)
                         (parse: Seq[String] => DataFrame): DataFrame =
    ms.flatMap(m => parsedFile(s"$dataPath/$m/$m$suffix")(p => parse(Seq(p))))
      .reduceOption(_ union _).getOrElse(parse(Nil))

  /** Shared core of OverSpeed/AverageSpeed (SURVEY §3.2–3.3): bbox sites
    * (broadcast) ⋈ speed obs ⋈ toll trips (plate + time-in-interval,
    * banded by day), classified in one pass. Returns
    * (hour, obs_date, CLSD, EXVEHCLASS, EXTRUCKFLAG).
    */
  private def classifiedObservations(box: BBox, startIncl: LocalDate,
                                     endExcl: LocalDate): DataFrame = {
    val ms = months(startIncl, endExcl.minusDays(1))
    val basePath = s"$dataPath/speed_base.csv"
    val base = parsedFile(basePath)(CsvIngest.readSpeedBase(spark, _))
      .getOrElse(throw new FileNotFoundException(basePath))
    val sites = base.filter(inBox(col("LON"), col("LAT"), box))
      .select(col("GDCSYBM"))
    val lo = tsParam(startIncl.format(fmt))
    val hi = tsParam(endExcl.format(fmt))
    val speed = monthFrames(ms, "CSYDATA.csv")(CsvIngest.readSpeedData(spark, _))
      .filter(col("WZSJ_TS") >= lo && col("WZSJ_TS") < hi)
    val fee = monthFrames(ms, "SFZDATA.csv")(CsvIngest.readFeeData(spark, _))
    val sited = TrafficOps.broadcastDimJoin(speed, sites, "SITE_GUID", "GDCSYBM")
    TrafficOps.intervalJoinBanded(sited, fee, "HPHM", "ENVEHPLATE",
        col("WZSJ_TS"), col("ENTIME_TS"), col("EXTIME_TS"), JoinBandSec)
      .select(hour(col("WZSJ_TS")).cast("long").as("hour"),
              to_date(col("WZSJ_TS")).as("obs_date"),
              col("CLSD"), col("EXVEHCLASS"), col("EXTRUCKFLAG"))
  }

  /** A date string as a timestamp parameter (midnight, session zone). */
  private def tsParam(date: String): Column =
    Param.column(lit(date).cast("timestamp"))

  /** `(x, y)` inside `box`, bounds as parameters. */
  private def inBox(x: Column, y: Column, box: BBox): Column = {
    def p(v: Double) = Param.column(lit(v))
    x.between(p(box.xLo), p(box.xHi)) && y.between(p(box.yLo), p(box.yHi))
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
    val lo = tsParam(startDate)
    val hi = tsParam(LocalDate.parse(endDate, fmt).plusDays(1).format(fmt))
    val acc = CsvIngest.readAccidents(spark, s"$dataPath/TF_ZFZD_CASESPECIFICATION.csv")
      .filter(col("CASE_TS").between(lo, hi))
      .filter(inBox(col("CASELONGITUDE"), col("CASELATITUDE"), box))
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
    classifiedObservations(box, d.minusDays(30), d.plusDays(1))
      .withColumn("car_type",
        when(col("EXVEHCLASS") === 1 && col("EXTRUCKFLAG") === 0, "01")
          .when(col("EXVEHCLASS") > 1 && col("EXTRUCKFLAG") === 0, "02")
          .when(col("EXVEHCLASS") === 1 && col("EXTRUCKFLAG") === 1, "03")
          .when(col("EXVEHCLASS") > 1 && col("EXTRUCKFLAG") === 1, "04"))
      .filter(col("car_type").isNotNull)
      // today = query date only; history = full trailing window (incl.
      // today, matching the reference's [start, end+1d) scan, SURVEY
      // §3.3) — both in one grouped pass, one row per time_point
      .groupBy(col("hour").as("time_period"), col("car_type"))
      .agg(avg(when(col("obs_date") === Param.column(lit(date).cast("date")),
                    col("CLSD")))
             .as("today"),
           avg(col("CLSD")).as("history"))
      .select(col("time_period"), col("car_type"),
              expr("stack(2, today, 1L, history, 0L) AS (avg_speed, time_point)"))
      .filter(col("avg_speed").isNotNull)
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

  /** X5: releases this instance's parsed copies, and nothing else the
    * session has cached.
    */
  def destroy(): Unit = parsed.synchronized {
    parsed.values.foreach(_.df.unpersist(blocking = false))
    parsed.clear()
  }
}

private object TrafficAnalytics {
  /** One parsed copy: the file's length and mtime when it was parsed. */
  final case class Parsed(length: Long, mtime: Long, df: DataFrame)
}
