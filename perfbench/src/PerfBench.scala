package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.{LocalDate, YearMonth}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.core.{BBox, Sessions}
import graft.operators.TrafficOps
import graft.pipelines.TrafficAnalytics
import graft.sources.CsvIngest

/** Closed-loop driver for the benchmark: one client on one Spark session.
  *
  *   PerfBench key=value...
  *
  * mode=api      the three TrafficAnalytics calls over a CSV fixture
  *               (work=<fixture dir>), a new month arriving before each round
  * mode=registry a named slice of SparkEntry.queries (sf=<dir>,
  *               floor=<q,q,...>, heavy=<q,q,...>, check=<out dir>)
  *
  * Common keys: seconds, cores, trace=0|1, setups, jit, out=<result json>,
  * spans=<span file>, local=<scratch dir>.
  *
  * The JVM is warmed first (warmJvm): a cold session start and `jit`
  * rounds (api) or passes (registry) of the timed work. Set-up
  * (session start, construction, warm-up) then runs `setups` times and
  * the session of the last one serves the timed phase. The timed phase runs
  * whole rounds until `seconds` have passed and at least `min_rounds`
  * (api) or `min_passes` (registry) rounds are done. Each call, shot and
  * set-up records its wall time and the CPU time of the JVM's Java
  * threads (cpuMs). With trace=1 every call into
  * a layer gets a span (name, start, end, parent, call id), kept in memory
  * and written to `spans` at the end; the result file carries each call's
  * answer so the oracle can check it. A call or shot that throws is counted
  * as failed and the run goes on.
  */
object PerfBench {

  // ---- spans --------------------------------------------------------------

  final class Tracer(val on: Boolean) {
    private val out = ArrayBuffer.empty[String]
    private var stack = List.empty[Int]
    private var next = 0
    var call = -1

    def span[T](name: String)(f: => T): T =
      if (!on) f
      else {
        val id = next; next += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime()
        try f
        finally {
          val t1 = System.nanoTime()
          stack = stack.tail
          out += s"""{"id":$id,"name":${Json.str(name)},"start":$t0,"end":$t1,""" +
            s""""parent":$parent,"call":$call}"""
        }
      }

    def count(name: String, v: Long): Unit =
      if (on) out += s"""{"count":${Json.str(name)},"value":$v,"call":$call}"""

    def write(p: Path): Unit =
      if (on) Files.write(p, (out.mkString("\n") + "\n").getBytes(UTF_8))
  }

  object Json {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => value(f.toDouble)
      case n: java.lang.Number => n.toString
      case b: Boolean => b.toString
      case m: Map[_, _] =>
        m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
      case a: Array[_] => value(a.toSeq)
      case r: Row => value(r.toSeq)
      case d: java.sql.Date => str(d.toString)
      case o => str(o.toString)
    }
  }

  // ---- common -------------------------------------------------------------

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time so far of each live Java thread (the caller, Spark's task
    * threads and Spark's own), in ns. The JIT compiler and GC threads are
    * not Java threads, so they are left out. */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 > 0).toMap

  /** CPU ms the Java threads spent since `t0` (a threadCpu() snapshot);
    * threads started since count from zero. */
  def cpuMs(t0: Map[Long, Long]): Double =
    threadCpu().map { case (id, v) => v - t0.getOrElse(id, 0L) }.sum / 1e6

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drop blocks a previous query left cached, as Bench does per shot. */
  def sweepBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Heap in use after full collections: what the program keeps between
    * calls, plus the JVM's and Spark's own fixed share. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  final class Conf(args: Array[String]) {
    private val kv = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  def session(c: Conf): SparkSession = {
    val cores = c.int("cores")
    val s = Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", c("local"))
      .config("spark.sql.warehouse.dir", s"${c("local")}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val c = new Conf(args)
    val tr = new Tracer(c("trace") == "1")
    val result = c("mode") match {
      case "api" => new Api(c, tr).run()
      case "registry" => new Registry(c, tr).run()
    }
    tr.write(Paths.get(c("spans")))
    Files.write(Paths.get(c("out")), (Json.value(result) + "\n").getBytes(UTF_8))
  }

  /** Runs before anything is measured, in a session of its own: a cold
    * session start and `work`, the same calls as the timed phase. Class
    * loading and the first compilation of the per-call code then stay out
    * of set-up and the timed phase, as in a long-lived host application.
    * Returns its seconds. */
  def warmJvm(c: Conf)(work: SparkSession => Unit): Double = {
    val t0 = System.nanoTime()
    val spark = session(c)
    work(spark)
    spark.stop()
    ms(t0) / 1000
  }

  /** Set-up repeated `setups` times: (CPU seconds of each, wall seconds
    * of each, last session). */
  def setUp(c: Conf, tr: Tracer)(construct: SparkSession => Unit)
      : (Seq[Double], Seq[Double], SparkSession) = {
    var spark: SparkSession = null
    val times = (1 to c.int("setups")).map { i =>
      if (spark != null) spark.stop()
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      spark = tr.span("core.session")(session(c))
      construct(spark)
      (cpuMs(cpu0) / 1000, ms(t0) / 1000)
    }
    (times.map(_._1), times.map(_._2), spark)
  }

  // ---- the paper's API ----------------------------------------------------

  final class Api(c: Conf, tr: Tracer) {
    private val work = Paths.get(c("work"))
    private val data = work.resolve("data")
    private val accPath = data.resolve("TF_ZFZD_CASESPECIFICATION.csv")
    private def tsv(name: String): IndexedSeq[Array[String]] =
      Files.readAllLines(work.resolve(name)).toArray.toIndexedSeq
        .map(_.toString.split("\t"))
    private val rounds = tsv("rounds.tsv")
    private val warm = tsv("warmup.tsv")
    private val monthDirs = Files.list(data).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
    private val firstNew = YearMonth.of(monthDirs.last.take(4).toInt,
                                        monthDirs.last.drop(4).toInt).plusMonths(1)
    private val stage = work.resolve("stage")
    private val stageDirs: Array[String] =
      Files.list(stage).toArray.map(_.asInstanceOf[Path].getFileName.toString).sorted
    /** arrivals so far; round r at epoch e reads the months up to firstNew+e-1 */
    private var epoch = 0
    private val calls = ArrayBuffer.empty[Map[String, Any]]
    private var spark: SparkSession = _
    private var ta: TrafficAnalytics = _

    private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    private def day(ym: YearMonth, d: String) = ym.atDay(d.toInt).format(fmt)

    /** (box, accident range, over-speed range, average-speed date): the
      * newest month, and for over-speed the one before it too */
    private def params(r: Array[String]) = {
      val box = BBox(r(0).toDouble, r(1).toDouble, r(2).toDouble, r(3).toDouble)
      val newest = firstNew.plusMonths(epoch - 1L)
      (box, (day(newest, r(4)), day(newest, r(5))),
       (day(newest.minusMonths(1), r(6)), day(newest, r(7))), day(newest, r(8)))
    }

    /** month dirs TrafficAnalytics reads for [start, endIncl] */
    private def months(start: LocalDate, endIncl: LocalDate): Seq[String] =
      Iterator.iterate(start.withDayOfMonth(1))(_.plusMonths(1))
        .takeWhile(!_.isAfter(endIncl))
        .map(d => f"${d.getYear}%04d${d.getMonthValue}%02d").toSeq

    private def timeCall(kind: String, phase: String, args: Seq[Any])
                        (f: => DataFrame): Double = {
      tr.call = calls.size
      val accBytes = Files.size(accPath)
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      val rows = try Right(tr.span(s"pipelines.$kind")(f.collect()))
                 catch { case NonFatal(e) => Left(e.toString) }
      val t = ms(t0)
      calls += Map("kind" -> kind, "phase" -> phase, "args" -> args,
                   "epoch" -> epoch, "acc_bytes" -> accBytes, "ms" -> t,
                   "cpu_ms" -> cpuMs(cpu0),
                   "rows" -> rows.fold(_ => Seq.empty, _.toSeq),
                   "error" -> rows.left.toOption.orNull)
      t
    }

    /** One CsvIngest reader, materialized through noop; its rows counted
      * outside the span. */
    private def read(name: String)(df: => DataFrame): Unit = {
      val d = tr.span(s"sources.$name") { val d = df; noop(d); d }
      tr.count("sources.rows_read", d.count())
    }

    /** The reads one call performs, each alone (traced runs only). */
    private def traceReads(kind: String, box: BBox, lo: LocalDate, hiExcl: LocalDate): Unit = {
      if (kind == "accident") {
        read("read_accidents")(CsvIngest.readAccidents(spark, accPath.toString))
        return
      }
      val ms = months(lo, hiExcl.minusDays(1))
      val speedPaths = ms.map(m => s"$data/$m/${m}CSYDATA.csv")
      val basePath = s"$data/speed_base.csv"
      read("read_base")(CsvIngest.readSpeedBase(spark, basePath))
      read("read_speed")(CsvIngest.readSpeedData(spark, speedPaths))
      read("read_fee")(CsvIngest.readFeeData(spark, ms.map(m => s"$data/$m/${m}SFZDATA.csv")))
      tr.span("operators.site_join") {
        val sites = TrafficOps.bboxFilter(CsvIngest.readSpeedBase(spark, basePath),
          "LON", "LAT", box).select(col("GDCSYBM"))
        val speed = CsvIngest.readSpeedData(spark, speedPaths)
          .filter(col("WZSJ_TS") >= java.sql.Timestamp.valueOf(lo.atStartOfDay()) &&
                  col("WZSJ_TS") < java.sql.Timestamp.valueOf(hiExcl.atStartOfDay()))
        noop(TrafficOps.broadcastDimJoin(speed, sites, "SITE_GUID", "GDCSYBM"))
      }
    }

    /** overSpeedCount, averageSpeed, accidentCount; returns call times */
    private def round(r: Array[String], phase: String): Seq[Double] = {
      val (box, (a0, a1), (o0, o1), v) = params(r)
      val b = Seq(box.xLo, box.xHi, box.yLo, box.yHi)
      val d = LocalDate.parse(v, fmt)
      val t = Seq(
        timeCall("overspeed", phase, b ++ Seq(o0, o1))(ta.overSpeedCount(box, o0, o1)),
        timeCall("avgspeed", phase, b :+ v)(ta.averageSpeed(box, v)),
        timeCall("accident", phase, b ++ Seq(a0, a1))(ta.accidentCount(box, a0, a1)))
      if (tr.on && phase == "timed" && calls.takeRight(3).forall(_("error") == null)) {
        val base = calls.size - 3
        tr.call = base
        traceReads("overspeed", box, LocalDate.parse(o0, fmt), LocalDate.parse(o1, fmt).plusDays(1))
        tr.call = base + 1
        traceReads("avgspeed", box, d.minusDays(30), d.plusDays(1))
        tr.call = base + 2
        traceReads("accident", box, null, null)
      }
      t
    }

    /** The warm-up of a set-up: one `accidentCount`, the cheapest call,
      * which pays the session's first job, first CSV read and first
      * collect. */
    private def warmUp(r: Array[String]): Unit = {
      val (box, (a0, a1), _, _) = params(r)
      val b = Seq(box.xLo, box.xHi, box.yLo, box.yHi)
      timeCall("accident", "warmup", b ++ Seq(a0, a1))(ta.accidentCount(box, a0, a1))
    }

    /** The next staged month lands: its speed and toll files, and its
      * accident rows appended. Staged months are reused, shifted by whole
      * cycles, when a run outlasts them. */
    private def arrive(): Unit = {
      val target = firstNew.plusMonths(epoch.toLong)
      val src = stageDirs(epoch % stageDirs.length)
      val srcYm = YearMonth.of(src.take(4).toInt, src.drop(4).toInt)
      def shifted(p: Path): String = Files.readString(p)
        .replace(f"${srcYm.getYear}%04d-${srcYm.getMonthValue}%02d-",
                 f"${target.getYear}%04d-${target.getMonthValue}%02d-")
      val ym = f"${target.getYear}%04d${target.getMonthValue}%02d"
      val dir = Files.createDirectories(data.resolve(ym))
      for (k <- Seq("CSYDATA", "SFZDATA"))
        Files.writeString(dir.resolve(s"$ym$k.csv"), shifted(stage.resolve(src).resolve(s"$src$k.csv")))
      Files.writeString(accPath, shifted(stage.resolve(src).resolve("accidents.csv")),
                        StandardOpenOption.APPEND)
      epoch += 1
    }

    def run(): Map[String, Any] = {
      val jvmWarmupS = warmJvm(c) { sp =>
        spark = sp
        ta = new TrafficAnalytics(sp, data.toString)
        for (_ <- 1 to c.int("jit"); r <- warm) round(r, "jit")
      }
      val (setups, setupsWall, s) = setUp(c, tr) { sp =>
        spark = sp
        ta = tr.span("pipelines.construct")(new TrafficAnalytics(sp, data.toString))
        tr.span("pipelines.warmup")(warm.foreach(warmUp))
      }
      spark = s
      val limit = c.int("seconds") * 1e9
      val t0 = System.nanoTime()
      var paused = 0L
      var r = 0
      val minRounds = c.int("min_rounds")
      while ((r < minRounds || System.nanoTime() - t0 - paused < limit) &&
             r < rounds.size) {
        if (r > 0) {
          val p0 = System.nanoTime()
          tr.span("arrival")(arrive())
          paused += System.nanoTime() - p0
        }
        round(rounds(r), "timed")
        r += 1
      }
      val wallS = (System.nanoTime() - t0 - paused) / 1e9
      val heap = retainedHeapMb()
      spark.stop()
      Map("jvm_warmup_s" -> jvmWarmupS, "setup_s" -> setups, "setup_wall_s" -> setupsWall,
          "timed_wall_s" -> wallS,
          "rounds" -> r,
          "retained_heap_mb" -> heap, "calls" -> calls)
    }
  }

  // ---- the query registry -------------------------------------------------

  final class Registry(c: Conf, tr: Tracer) {
    private val sf = c("sf")
    private val groups = Seq("floor" -> c.list("floor"), "heavy" -> c.list("heavy"))
    private val all = SparkEntry.queries
    private val jobs = new AtomicInteger()
    groups.flatMap(_._2).foreach(q => require(all.contains(q), s"unknown query $q"))

    /** One shot: its time and CPU time, or None if it threw. */
    private def shot(spark: SparkSession, g: String, q: String): Option[(Double, Double)] = {
      sweepBlocks(spark)
      val j0 = jobs.get()
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      try {
        tr.span(s"entries.$q") {
          val df = tr.span(s"entries.$g.build")(all(q)(spark, sf))
          if (tr.on) tr.span(s"plans.$g.plan")(df.queryExecution.executedPlan)
          tr.span(s"entries.$g.run")(noop(df))
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $q failed: $e")
          return None
      }
      val t = ms(t0)
      val cpu = cpuMs(cpu0)
      tr.count(s"entries.$g.jobs", jobs.get() - j0)
      Some((t, cpu))
    }

    def run(): Map[String, Any] = {
      val warm = c.list("warmup")
      val jvmWarmupS = warmJvm(c) { sp =>
        sp.conf.set("graft.stream.partitions", "4")
        for (_ <- 1 to c.int("jit"); (_, qs) <- groups; q <- qs) {
          sweepBlocks(sp)
          noop(all(q)(sp, sf))
        }
      }
      val (setups, setupsWall, spark) = setUp(c, tr) { sp =>
        sp.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        })
        sp.conf.set("graft.stream.partitions", "4")
        tr.span("pipelines.warmup")(warm.foreach(q => noop(all(q)(sp, sf))))
      }
      val times = groups.flatMap(_._2).map(_ -> ArrayBuffer.empty[Double]).toMap
      val cpus = groups.flatMap(_._2).map(_ -> ArrayBuffer.empty[Double]).toMap
      val failed = groups.flatMap(_._2).map(_ -> new AtomicInteger()).toMap
      val limit = c.int("seconds") * 1e9
      val minPasses = c.int("min_passes")
      val t0 = System.nanoTime()
      var passes = 0
      while (passes < minPasses || System.nanoTime() - t0 < limit) {
        for ((g, qs) <- groups; q <- qs) {
          tr.call = passes
          shot(spark, g, q) match {
            case Some((t, cpu)) => times(q) += t; cpus(q) += cpu
            case None => failed(q).incrementAndGet()
          }
        }
        passes += 1
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val heap = retainedHeapMb()
      // outputs for the oracle, outside the timed phase
      val check = c("check")
      val unchecked = for ((_, qs) <- groups; q <- qs
                           if Try { sweepBlocks(spark)
                                    all(q)(spark, sf).write.mode("overwrite").parquet(s"$check/$q")
                                  }.isFailure) yield q
      val sql = groups.flatMap(_._2).map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)).toMap
      Files.writeString(Paths.get(check, "oracle_sql.json"), Json.value(sql))
      spark.stop()
      Map("jvm_warmup_s" -> jvmWarmupS, "setup_s" -> setups, "setup_wall_s" -> setupsWall,
          "timed_wall_s" -> wallS,
          "passes" -> passes,
          "retained_heap_mb" -> heap,
          "groups" -> groups.map { case (g, qs) => g -> qs }.toMap,
          "shots" -> times.map { case (q, ts) => q -> ts.toSeq },
          "shot_cpu" -> cpus.map { case (q, ts) => q -> ts.toSeq },
          "failed" -> failed.map { case (q, n) => q -> n.get },
          "unchecked" -> unchecked)
    }
  }
}
