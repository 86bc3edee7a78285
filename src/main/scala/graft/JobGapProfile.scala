package graft

import org.apache.spark.scheduler._

/** Measurement-only main (guide §1.1/§7.3): run named queries once
  * (after an untimed warmup shot) with a SparkListener recording every
  * job's [start, end] wall interval and call site, then report where
  * the wall time went — job compute (union of job intervals) vs driver
  * gaps (planning/analysis/manifest IO between actions). This is the
  * instrument VERDICT r21 asks for on the lifecycle family ("profile
  * one q189 run with job-gap attribution"); it changes nothing the
  * bench or Verify mains do.
  */
object JobGapProfile {
  private case class Job(id: Int, site: String, start: Long, var end: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    require(args.nonEmpty, "usage: JobGapProfile <query> [query ...]")
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("graft.stream.partitions", "4")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("")
          jobs += Job(j.jobId, site, j.time, -1L)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == j.jobId).foreach(_.end = j.time)
        }
    }

    // how many jobs are RUNNING right now — the sampler keys on it to
    // classify a driver stack sample as gap-time vs job-time
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val runListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        running.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        running.decrementAndGet()
    }
    spark.sparkContext.addSparkListener(runListener)

    // untimed warmup shot; a query whose warmup fails is reported and
    // gets no timed run, so one failing query does not end the session
    def warmedUp(name: String): Boolean =
      try { materialize(SparkEntry.queries(name)(spark, sfDir)); true }
      catch { case e: Throwable =>
        println(s"[profile] $name warmup FAILED, skipped: $e"); false }

    for (name <- args if warmedUp(name)) {
      val fn = SparkEntry.queries(name)
      Bench.sweepBlocks(spark)
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      // sample the query thread's stack every 5 ms while NO job runs —
      // the §7.3 "driver thread dump" automated over the whole query:
      // the hot frames of the gap time name the fixed cost directly
      val gapFrames =
        new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val mainThread = Thread.currentThread()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          if (running.get() == 0) {
            val st = mainThread.getStackTrace
            // first interesting frame: skip reflection/scala glue
            val f = st.find { e =>
              val c = e.getClassName
              (c.startsWith("org.apache.spark.sql.catalyst") ||
               c.startsWith("org.apache.spark.sql.execution") ||
               c.startsWith("org.apache.parquet") ||
               c.startsWith("org.apache.hadoop") ||
               c.startsWith("graft.") ||
               c.startsWith("java.io") || c.startsWith("java.nio") ||
               c.startsWith("org.apache.spark.sql.classic")) &&
                !c.contains("JobGapProfile")
            }.orElse(st.drop(2).headOption)
            f.foreach { e =>
              val key = s"${e.getClassName}.${e.getMethodName}"
              gapFrames.merge(key, 1, (a, b) => a + b)
            }
          }
          Thread.sleep(5)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      val t0 = System.currentTimeMillis()
      materialize(fn(spark, sfDir))
      val wall = System.currentTimeMillis() - t0
      sampling = false
      Thread.sleep(400) // async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      locally {
        import scala.jdk.CollectionConverters._
        val top = gapFrames.asScala.toSeq.sortBy(-_._2).take(20)
        top.foreach { case (k, n) =>
          println(f"[profile]   gapstack ${n.toInt * 5}%6dms~ $k")
        }
      }
      val js = jobs.synchronized(jobs.filter(_.end > 0).sortBy(_.start).toSeq)
      // union of job intervals = time at least one job was running;
      // the remainder of the wall is pure driver work
      var unionMs = 0L
      var cursor = Long.MinValue
      for (j <- js) {
        val s = math.max(j.start, cursor)
        if (j.end > s) { unionMs += j.end - s; cursor = j.end }
        else cursor = math.max(cursor, j.end)
      }
      println(f"[profile] $name wall=${wall}ms jobs=${js.size} " +
        f"jobtime(union)=${unionMs}ms drivergaps=${wall - unionMs}ms")
      // gap list: driver-only intervals > 20 ms, with the bounding jobs
      var prevEnd = t0
      var prevSite = "(start)"
      val gaps = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String)]
      for (j <- js) {
        if (j.start - prevEnd > 20)
          gaps += ((j.start - prevEnd, prevSite, j.site))
        prevEnd = math.max(prevEnd, j.end)
        prevSite = j.site
      }
      if (t0 + wall - prevEnd > 20)
        gaps += ((t0 + wall - prevEnd, prevSite, "(end)"))
      gaps.sortBy(-_._1).take(20).foreach { case (ms, a, b) =>
        println(f"[profile]   gap ${ms}%6dms  after [$a] before [$b]")
      }
      js.sortBy(j => j.start - j.end).take(12).foreach { j =>
        println(f"[profile]   job ${j.id}%4d ${j.end - j.start}%6dms  [${j.site}]")
      }
    }
    spark.stop()
  }
}
