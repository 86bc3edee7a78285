package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{Callable, Executors}
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
    val d = tempDir("graft-fixtures")
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
    val d = tempDir("graft-fixtures-dirty")
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

  // ---- the parse cache: each on a fresh copy of the §1 files ------------

  private def freshCopy(prefix: String): Path = {
    val d = tempDir(prefix)
    scala.util.Using.resource(Files.walk(dataDir)) {
      _.filter(Files.isRegularFile(_)).forEach { f =>
        write(d, dataDir.relativize(f).toString, Files.readString(f))
      }
    }
    d
  }

  private def overMap(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
    df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  private def avgMap(df: org.apache.spark.sql.DataFrame): Map[(Long, String, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)) -> r.getDouble(2)).toMap

  private val juneOver = Map((8L, "01") -> 1L, (14L, "04") -> 1L)
  // JA again at 08:40, CLSD 150, inside its 08:00-09:00 trip
  private val jaRow = "SITE_A,JA12345,2016-06-15 08:40:00,150,1\n"

  test("parse cache: a rewritten month file changes the next answer") {
    val d = freshCopy("graft-rewrite")
    val t = new TrafficAnalytics(spark, d.toString)
    def june() = overMap(t.overSpeedCount(box, "2016-06-01", "2016-06-30"))
    assert(june() === juneOver)
    // a new row
    val csy = d.resolve("201606/201606CSYDATA.csv")
    Files.writeString(csy, Files.readString(csy) + jaRow)
    // another instance parses the file as it is now, not this one's copy
    assert(overMap(new TrafficAnalytics(spark, d.toString)
      .overSpeedCount(box, "2016-06-01", "2016-06-30")) ===
      Map((8L, "01") -> 2L, (14L, "04") -> 1L))
    assert(june() === Map((8L, "01") -> 2L, (14L, "04") -> 1L))
    // the same length with a new mtime: JA's 130 becomes 090
    val mtime = Files.getLastModifiedTime(csy).toMillis
    Files.writeString(csy, Files.readString(csy)
      .replace("08:12:00,130,", "08:12:00,090,"))
    Files.setLastModifiedTime(csy, FileTime.fromMillis(mtime + 5000))
    assert(june() === juneOver)
  }

  test("parse cache: a month file created after a call is read by the next one") {
    val d = freshCopy("graft-arrival")
    val july = Seq("201607/201607CSYDATA.csv", "201607/201607SFZDATA.csv")
      .map(r => r -> Files.readString(d.resolve(r)))
    july.foreach { case (r, _) => Files.delete(d.resolve(r)) }
    val t = new TrafficAnalytics(spark, d.toString)
    def summer() = overMap(t.overSpeedCount(box, "2016-06-01", "2016-07-31"))
    assert(summer() === juneOver)
    july.foreach { case (r, c) => write(d, r, c) }
    assert(summer() === juneOver + ((9L, "01") -> 1L))
    // a new file moved over it, as an atomic arrival does: two rows
    // inside JB's 09:00-10:00 trip
    val next = d.resolve("201607CSYDATA.csv.next")
    Files.writeString(next,
      """SITE_B,JB99999,2016-07-02 09:15:00,125,1
        |SITE_B,JB99999,2016-07-02 09:45:00,130,1
        |""".stripMargin)
    Files.move(next, d.resolve(july.head._1), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    assert(summer() === juneOver + ((9L, "01") -> 2L))
    // and a deleted one is no longer read
    Files.delete(d.resolve(july.head._1))
    assert(summer() === juneOver)
  }

  test("banded JN2: a trip across midnight matches observations on both days") {
    val d = tempDir("graft-midnight")
    write(d, "speed_base.csv", "G1,001,SITE_A,N,StationA,1,116.30,39.90\n")
    write(d, "201606/201606CSYDATA.csv",
      """SITE_A,JM00001,2016-06-15 23:50:00,125,1
        |SITE_A,JM00001,2016-06-16 00:10:00,130,1
        |SITE_A,JM00001,2016-06-16 00:40:00,135,1
        |""".stripMargin)
    write(d, "201606/201606SFZDATA.csv",
      "ST9,2016-06-16 00:30:00,ST1,2016-06-15 23:30:00,1,JM00001,JM00001,0\n")
    val t = new TrafficAnalytics(spark, d.toString)
    // 00:40 is after the trip's exit: no match
    assert(overMap(t.overSpeedCount(box, "2016-06-01", "2016-06-30")) ===
      Map((23L, "01") -> 1L, (0L, "01") -> 1L))
    assert(avgMap(t.averageSpeed(box, "2016-06-16")) === Map(
      (0L, "01", 1L) -> 130.0,
      (0L, "01", 0L) -> 130.0,
      (23L, "01", 0L) -> 125.0))
  }

  test("parse cache: concurrent calls on one instance get the golden answers") {
    val d = freshCopy("graft-concurrent")
    val t = new TrafficAnalytics(spark, d.toString)
    val pool = Executors.newFixedThreadPool(2)
    def both(): (Map[(Long, String), Long], Map[(Long, String, Long), Double]) = {
      val o = pool.submit(new Callable[Map[(Long, String), Long]] {
        def call() = overMap(t.overSpeedCount(box, "2016-06-01", "2016-06-30"))
      })
      val a = pool.submit(new Callable[Map[(Long, String, Long), Double]] {
        def call() = avgMap(t.averageSpeed(box, "2016-06-15"))
      })
      (o.get(), a.get())
    }
    try {
      val golden = (juneOver, Map(
        (8L, "01", 1L) -> 130.0, (14L, "04", 1L) -> 110.0,
        (8L, "01", 0L) -> 130.0, (14L, "04", 0L) -> 110.0))
      assert(both() === golden)
      assert(both() === golden)
      val csy = d.resolve("201606/201606CSYDATA.csv")
      Files.writeString(csy, Files.readString(csy) + jaRow)
      assert(both() === ((Map((8L, "01") -> 2L, (14L, "04") -> 1L), Map(
        (8L, "01", 1L) -> 140.0, (14L, "04", 1L) -> 110.0,
        (8L, "01", 0L) -> 140.0, (14L, "04", 0L) -> 110.0))))
    } finally pool.shutdown()
  }

  test("destroy releases this instance's copies and nothing else") {
    val other = spark.range(5).toDF("x").persist()
    other.count()
    val t = new TrafficAnalytics(spark, freshCopy("graft-destroy").toString)
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted()
    assert(overMap(t.overSpeedCount(box, "2016-06-01", "2016-06-30")) === juneOver)
    val copies = persisted() -- before
    assert(copies.nonEmpty)
    t.destroy()
    assert(persisted().intersect(copies).isEmpty)
    assert(other.storageLevel === org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the instance still answers, from a fresh parse
    assert(overMap(t.overSpeedCount(box, "2016-06-01", "2016-06-30")) === juneOver)
    other.unpersist()
  }
}
