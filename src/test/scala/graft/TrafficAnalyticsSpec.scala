package graft

import java.nio.file.{Files, Path}
import graft.core.BBox
import graft.pipelines.TrafficAnalytics

/** Golden-fixture pipeline tests — the FIXTURES.md §1 rows with the known
  * answers from §1.5, replayed through the rebuilt reference API.
  */
class TrafficAnalyticsSpec extends SparkTestBase {

  private def write(dir: Path, rel: String, content: String): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private lazy val dataDir: Path = {
    val d = Files.createTempDirectory("graft-fixtures")
    write(d, "speed_base.csv",
      """G1,001,SITE_A,N,StationA,1,116.30,39.90
        |G1,002,SITE_B,S,StationB,1,116.50,39.50
        |G2,003,SITE_C,N,StationC,1,120.10,30.20
        |G2,004,SITE_D,N,StationD,1,,
        |""".stripMargin)
    write(d, "201606/201606CSYDATA.csv",
      """SITE_A,JA12345,2016-06-15 08:12:00,130,1
        |SITE_A,JB99999,2016-06-15 08:45:10,95,0
        |SITE_B,JC55555,2016-06-15 14:03:22,110,0
        |SITE_A,JA12345,bad-time,140,1
        |""".stripMargin)
    write(d, "201606/201606SFZDATA.csv",
      """ST9,2016-06-15 09:00:00,ST1,2016-06-15 08:00:00,1,JA12345,JA12345,0
        |ST9,2016-06-15 15:00:00,ST2,2016-06-15 13:30:00,2,JC55555,JC55555,1
        |""".stripMargin)
    // second month: exercises multi-month path pruning; JB trip interval
    // covers its 08:45 observation (class 1 truck 0 but CLSD 95 ≤ 120 →
    // never counted as over-speed, still in averages as car_type 01)
    write(d, "201607/201607CSYDATA.csv",
      """SITE_B,JB99999,2016-07-02 09:30:00,125,1
        |""".stripMargin)
    write(d, "201607/201607SFZDATA.csv",
      """ST9,2016-07-02 10:00:00,ST3,2016-07-02 09:00:00,1,JB99999,JB99999,0
        |""".stripMargin)
    write(d, "TF_ZFZD_CASESPECIFICATION.csv",
      """"1","5000","C001","2016-06-15 08:30:00","2","101","G1","K12","N","12","300","116.40","39.85","rear-end","0","1","2","2","plain","sunny"
        |"2","12000","C002","2016-06-16 22:10:00","1","101","G1","K40","S","40","0","116.90","39.10","rollover","1","0","0","1","hill","rain"
        |"3","1","C003","not-a-date","1","101","G1","K1","S","1","0","116.40","39.85","minor","0","0","0","1","plain","fog"
        |""".stripMargin)
    d
  }

  private val box = BBox(116.0, 117.0, 39.0, 40.0)
  private lazy val ta = new TrafficAnalytics(spark, dataDir.toString)

  private def toMap(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Seq[Any]] =
    df.collect().map(r => r.toSeq.take(df.columns.length - 1) -> r.toSeq).toMap

  test("driver flagship entry returns a non-empty hourly histogram") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) > 0))
  }

  test("accidentCount: bbox+range histogram, unparseable date kept at epoch 0") {
    val rows = ta.accidentCount(box, "2016-06-01", "2016-06-30")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(8L -> 1L, 22L -> 1L))
    // epoch-0 row (C003) is outside the range filter but NOT dropped at
    // ingest — widening the range to cover 1970 finds it:
    val withEpoch0 = ta.accidentCount(box, "1970-01-01", "2016-06-30")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withEpoch0 === Map(0L -> 1L, 8L -> 1L, 22L -> 1L))
  }

  test("overSpeedCount: classified one-pass counts match FIXTURES §1.5") {
    val rows = ta.overSpeedCount(box, "2016-06-01", "2016-06-30")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // CLSD 130 > 120, class 1, truck 0 → 01@8; CLSD 110 > 100, class 2,
    // truck 1 → 04@14. JB (95) below threshold; bad-time row dropped.
    assert(rows === Map((8L, "01") -> 1L, (14L, "04") -> 1L))
  }

  test("overSpeedCount: multi-month range prunes paths and unions ALL") {
    val rows = ta.overSpeedCount(box, "2016-06-01", "2016-07-31")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // July adds JB 125 > 120 class 1 truck 0 at 09:30 → 01@9
    assert(rows === Map((8L, "01") -> 1L, (14L, "04") -> 1L, (9L, "01") -> 1L))
  }

  test("averageSpeed: today vs trailing-30-day split") {
    val rows = ta.averageSpeed(box, "2016-07-02")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)) -> r.getDouble(2))
      .toMap
    // today (7/2): JB 125 class1/truck0 → (9,"01",1)=125
    // history window 6/2..7/2 incl: 01 → {130@8 (JA), 125@9 (JB)},
    // 04 → {110@14}; JB's 6/15 95 obs has no covering toll interval in
    // June (ST3 trip is July) → excluded by the interval join.
    assert(rows === Map(
      (9L, "01", 1L) -> 125.0,
      (8L, "01", 0L) -> 130.0,
      (9L, "01", 0L) -> 125.0,
      (14L, "04", 0L) -> 110.0))
  }

  test("toJsonList: host-app JSON sink shape (S4)") {
    val l = ta.toJsonList(ta.accidentCount(box, "2016-06-01", "2016-06-30"))
    assert(l.size() === 2)
    assert(l.asInstanceOf[java.util.List[String]].get(0).startsWith("{"))
  }

  // the §1 rows plus rows with too many / too few fields, which the
  // reference's exact field-count check drops from every read — also
  // from reads whose query needs only some of the columns
  private lazy val dirtyDir: Path = {
    val d = Files.createTempDirectory("graft-fixtures-dirty")
    def copyWith(rel: String, extra: String): Unit =
      write(d, rel, Files.readString(dataDir.resolve(rel)) + extra)
    copyWith("speed_base.csv",
      "G1,001,SITE_A,N,StationA,1,116.30,39.90,EXTRA\n")
    write(d, "201606/201606CSYDATA.csv",
      """SITE_A,JA12345,2016-06-15 08:12:00,130,1
        |SITE_A,JA12345,2016-06-15 08:20:00,135,1,EXTRA
        |SITE_A,JA12345,2016-06-15 08:30:00,140
        |""".stripMargin)
    copyWith("201606/201606SFZDATA.csv",
      "ST9,2016-06-15 09:00:00,ST1,2016-06-15 08:00:00,1,JA12345,JA12345,0,EXTRA\n")
    copyWith("TF_ZFZD_CASESPECIFICATION.csv",
      """"1","5000","C004","2016-06-15 08:40:00","2","101","G1","K12","N","12","300","116.40","39.85","rear-end","0","1","2","2","plain","sunny","EXTRA"
        |"1","5000","C005","2016-06-15 08:50:00","2","101","G1","K12","N","12","300","116.40","39.85","rear-end","0","1","2","2","plain"
        |""".stripMargin)
    d
  }

  test("accidentCount: rows with the wrong field count are dropped") {
    val rows = new TrafficAnalytics(spark, dirtyDir.toString)
      .accidentCount(box, "2016-06-01", "2016-06-30")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(8L -> 1L, 22L -> 1L))
  }

  test("overSpeedCount: speed, site and toll rows with the wrong field count are dropped") {
    val rows = new TrafficAnalytics(spark, dirtyDir.toString)
      .overSpeedCount(box, "2016-06-01", "2016-06-30")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows === Map((8L, "01") -> 1L))
  }

  test("averageSpeed: a window reaching a month with no files reads what exists") {
    // the 30-day window of 6/15 starts in May, which has no files
    val rows = ta.averageSpeed(box, "2016-06-15")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)) -> r.getDouble(2))
      .toMap
    assert(rows === Map(
      (8L, "01", 1L) -> 130.0,
      (14L, "04", 1L) -> 110.0,
      (8L, "01", 0L) -> 130.0,
      (14L, "04", 0L) -> 110.0))
  }

  test("overSpeedCount: a window with no month files returns zero rows") {
    assert(ta.overSpeedCount(box, "2015-01-01", "2015-02-28").collect().isEmpty)
  }
}
