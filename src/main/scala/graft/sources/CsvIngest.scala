package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Robust CSV ingest for the reference's native input formats
  * (FIXTURES.md §1), replacing its RDD ETL stage (SURVEY §2.2, P1–P8:
  * `/root/reference/src/AccidentStatistics.scala:59-94`,
  * `src/OverSpeedCount.scala:26-34,66-105`).
  *
  * Design decisions vs the reference, each documented + unit-tested:
  *  - Malformed rows (wrong arity) are dropped by the CSV reader's
  *    DROPMALFORMED mode, not a hand-written `split.length == n` filter.
  *    Column pruning is off for these reads: with it, the reader
  *    tokenizes only the projected fields and checks the arity of those
  *    alone, so a row with too many or too few fields would survive any
  *    query that does not read every column.
  *  - Numeric parse failures become NULL (`try_cast`) then a documented
  *    default via `coalesce` where the reference used sentinel 0
  *    (`src/AccidentStatistics.scala:37-51`).
  *  - Timestamp parse failures become NULL (`to_timestamp`) and are
  *    dropped for the fact tables — same net semantics as the reference's
  *    epoch-0-then-`millis > 0` dance (`src/OverSpeedCount.scala:71-81`).
  *    For accidents the reference KEEPS unparseable-date rows at epoch 0
  *    (`src/AccidentStatistics.scala:90-93` has no filter); we preserve
  *    that with a coalesce-to-epoch-0 so golden answers match.
  *  - Time parts (hour/day/month/year) are NOT materialized at ingest —
  *    they're one codegen'd expression at query time (P7).
  *
  * Scale: the CSV parse is the datasource's vectorized reader + whole-stage
  * codegen, not a row-at-a-time RDD map; schema is explicit so no inference
  * pass over 100 TB.
  */
object CsvIngest {

  private def str(n: String) = StructField(n, StringType, nullable = true)

  /** `speed_base.csv` — camera-site dimension, 8 cols (FIXTURES §1.1). */
  val speedBaseSchema: StructType = StructType(Seq(
    str("LXBM"), str("GDCSYZH"), str("GDCSYBM"), str("CSFX"),
    str("CSYMC"), str("JDZBS"), str("LON_RAW"), str("LAT_RAW")))

  /** `<YYYYMM>CSYDATA.csv` — speed-camera fact, 5 cols (FIXTURES §1.2). */
  val speedDataSchema: StructType = StructType(Seq(
    str("SITE_GUID"), str("HPHM"), str("WZSJ"), str("CLSD_RAW"),
    str("ISOVERSPEED_RAW")))

  /** `<YYYYMM>SFZDATA.csv` — toll-gate fact, 8 cols (FIXTURES §1.3). */
  val feeDataSchema: StructType = StructType(Seq(
    str("EXSTATION"), str("EXTIME"), str("ENSTATION"), str("ENTIME"),
    str("EXVEHCLASS"), str("ENVEHPLATE"), str("EXVEHPLATE"),
    str("EXTRUCKFLAG")))

  /** `TF_ZFZD_CASESPECIFICATION.csv` — accidents, 20 cols, fully quoted
    * (FIXTURES §1.4).
    */
  val accidentSchema: StructType = StructType(Seq(
    str("ACCIDENTCLASS"), str("LOSSMONEY"), str("CASEID"), str("CASEDATE"),
    str("CASELEVEL"), str("CASELOCROADID"), str("CASELOCROAD"),
    str("CASELOCORADPART"), str("CASELOCDIRECTION"), str("CASELOCKILO"),
    str("CASELOCMETER"), str("CASELONGITUDE"), str("CASELATITUDE"),
    str("ACCIDENTTYPE"), str("DEATHNUM"), str("GREVIOUSINJURYNUM"),
    str("SLIGHTINJURYNUM"), str("CRASHEDMOTORVEHICLENUM"), str("LANDFORM"),
    str("WEATHER")))

  private val TS_FMT = "yyyy-MM-dd HH:mm:ss"

  private def readCsv(spark: SparkSession, schema: StructType,
                      paths: Seq[String]): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "false")
      .option("mode", "DROPMALFORMED") // P2: arity filter
      .option("columnPruning", "false") // ...over every field, not the projected ones
      .option("quote", "\"")           // P4: quote strip
      .csv(paths: _*)

  private def tryLong(c: String)   = expr(s"try_cast($c as bigint)")
  private def tryDouble(c: String) = expr(s"try_cast($c as double)")

  /** Dimension: P3 non-empty key filter + double casts
    * (ref `src/OverSpeedCount.scala:26-34` — note the reference would
    * CRASH on a non-numeric LON; we drop the row instead).
    */
  def readSpeedBase(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, speedBaseSchema, Seq(path))
      .filter(col("LON_RAW").isNotNull && col("LON_RAW") =!= "" &&
              col("LAT_RAW").isNotNull && col("LAT_RAW") =!= "")
      .select(col("GDCSYBM"),
              tryDouble("LON_RAW").as("LON"),
              tryDouble("LAT_RAW").as("LAT"))
      .filter(col("LON").isNotNull && col("LAT").isNotNull)

  /** Speed fact: non-empty fields, timestamp parse-or-drop
    * (ref `src/OverSpeedCount.scala:66-81`).
    */
  def readSpeedData(spark: SparkSession, paths: Seq[String]): DataFrame =
    readCsv(spark, speedDataSchema, paths)
      .filter(col("SITE_GUID").isNotNull && col("SITE_GUID") =!= "" &&
              col("HPHM").isNotNull && col("HPHM") =!= "")
      .select(col("SITE_GUID"), col("HPHM"),
              expr(s"try_to_timestamp(WZSJ, '$TS_FMT')").as("WZSJ_TS"),
              tryLong("CLSD_RAW").as("CLSD"),
              tryLong("ISOVERSPEED_RAW").as("ISOVERSPEED"))
      .filter(col("WZSJ_TS").isNotNull && col("CLSD").isNotNull)

  /** Toll fact: both interval endpoints must parse
    * (ref `src/OverSpeedCount.scala:83-105`).
    */
  def readFeeData(spark: SparkSession, paths: Seq[String]): DataFrame =
    readCsv(spark, feeDataSchema, paths)
      .filter(col("ENVEHPLATE").isNotNull && col("ENVEHPLATE") =!= "")
      .select(col("ENVEHPLATE"),
              expr(s"try_to_timestamp(ENTIME, '$TS_FMT')").as("ENTIME_TS"),
              expr(s"try_to_timestamp(EXTIME, '$TS_FMT')").as("EXTIME_TS"),
              tryLong("EXVEHCLASS").as("EXVEHCLASS"),
              tryLong("EXTRUCKFLAG").as("EXTRUCKFLAG"))
      .filter(col("ENTIME_TS").isNotNull && col("EXTIME_TS").isNotNull)

  /** Accidents: sentinel semantics preserved — numeric failures → 0,
    * unparseable CASEDATE → epoch 0 but the row is KEPT
    * (ref `src/AccidentStatistics.scala:37-51,90-93`).
    */
  def readAccidents(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, accidentSchema, Seq(path))
      .select(
        coalesce(tryLong("ACCIDENTCLASS"), lit(0L)).as("ACCIDENTCLASS"),
        coalesce(tryLong("LOSSMONEY"), lit(0L)).as("LOSSMONEY"),
        col("CASEID"), col("CASEDATE"),
        coalesce(tryLong("CASELEVEL"), lit(0L)).as("CASELEVEL"),
        col("CASELOCROAD"),
        coalesce(tryDouble("CASELONGITUDE"), lit(0.0)).as("CASELONGITUDE"),
        coalesce(tryDouble("CASELATITUDE"), lit(0.0)).as("CASELATITUDE"),
        col("ACCIDENTTYPE"),
        coalesce(tryLong("DEATHNUM"), lit(0L)).as("DEATHNUM"),
        coalesce(tryLong("GREVIOUSINJURYNUM"), lit(0L)).as("GREVIOUSINJURYNUM"),
        coalesce(tryLong("SLIGHTINJURYNUM"), lit(0L)).as("SLIGHTINJURYNUM"),
        col("LANDFORM"), col("WEATHER"),
        coalesce(expr(s"try_to_timestamp(CASEDATE, '$TS_FMT')"),
                 lit(0L).cast("timestamp")).as("CASE_TS"))
}
