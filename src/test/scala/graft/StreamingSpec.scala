package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.streaming.EventStreams.SessionEvent

/** Timestamp-only event for watermark tests (top-level for encoders). */
case class TsEvent(ts: java.sql.Timestamp)

/** (user, ts) event for session_window tests (top-level for encoders). */
case class UserTsEvent(user_id: Long, ts: java.sql.Timestamp)

/** (ts, type) event for windowed heavy-hitter tests. */
case class TypedEvent(ts: java.sql.Timestamp, event_type: String)

/** Incremental-semantics tests: MemoryStream lets us control micro-batch
  * boundaries, so these check what the bounded oracle run can't — state
  * carried ACROSS batches (session merge, dedup memory, window updates).
  */
class StreamingSpec extends SparkTestBase {

  private val H = 3600L * 1000000000L // one hour in nanos

  test("streaming parquet sink + checkpoint lands exactly the source rows") {
    // the fault-tolerant file sink: checkpointed offsets + transactional
    // file commit protocol — the production landing path for streams
    val out = tempDir("graft_ssink").toString
    val ck = tempDir("graft_sck").toString
    val q = EventStreams.eventStream(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val landed = spark.read.parquet(out)
    val src = graft.core.Tables.events(spark, sf)
    assert(landed.count() === src.count())
    assert(landed.select(sum(col("event_id"))).head.getLong(0) ===
      src.select(sum(col("event_id"))).head.getLong(0))
  }

  /** Bounded hourly-count run compared against the batch aggregate —
    * shared by the default-provider and RocksDB-provider tests.
    */
  private def assertHourlyCountsMatchBatch(sinkName: String): Unit = {
    val got = EventStreams.runBounded(spark,
        ss => EventStreams.hourlyCounts(EventStreams.eventStream(ss, sf)),
        sinkName, OutputMode.Complete())
      .select(col("window_start"), col("cnt"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val want = graft.core.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("ws"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(got == want, s"sizes ${got.size} vs ${want.size}")
  }

  test("windowed value histogram: stream partials merge to the batch truth") {
    // T40: the streaming producer of q130's mergeable quantile partials.
    // Three claims: (a) the bounded stream emits exactly the batch
    // per-(window, bucket) counts; (b) merging the emitted partials by
    // SUM equals the whole-corpus histogram (no stream rescan); (c) a
    // percentile estimated from the merged partials obeys q130's
    // 2-bucket error bound vs the exact percentile.
    val (histB, histW) = (256L, 4.0)
    val got = EventStreams.runBounded(spark,
        ss => EventStreams.windowedValueHistogram(
          EventStreams.eventStream(ss, sf), histB, histW),
        "vhist", OutputMode.Complete())
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val want = graft.core.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("ws"),
        least(lit(histB - 1), floor(col("value") / histW).cast("long"))
          .as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == want, s"sizes ${got.size} vs ${want.size}")
    // (b) merge by SUM across windows
    val merged = got.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val batchAll = graft.core.Tables.events(spark, sf)
      .groupBy(least(lit(histB - 1),
        floor(col("value") / histW).cast("long")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == batchAll)
    // (c) p90 from the merged histogram within 2 bucket widths of exact
    val n = merged.values.sum
    val est = {
      var cum = 0L
      (merged.toSeq.sortBy(_._1).find { case (_, c) =>
        cum += c; cum * 100 >= n * 90
      }.get._1 + 1) * histW
    }
    val exact = graft.core.Tables.events(spark, sf)
      .agg(expr("percentile(value, 0.9)")).head.getDouble(0)
    assert(math.abs(est - exact) <= 2 * histW,
      s"stream-merged p90 $est vs exact $exact")
  }

  test("stateful queries run on the RocksDB state store (disk-backed)") {
    // The default HDFSBackedStateStoreProvider keeps all state on the
    // executor heap — fine for bounded windows, an OOM for 100 TB-scale
    // keyed state. RocksDB spills to local disk; same query, same
    // results, provider is pure config. This pins that the code path
    // works against the scale-grade backend, not just the default.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try assertHourlyCountsMatchBatch("rocks")
    finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("multi-batch Update-mode drain keeps only each key's latest row") {
    // ADVICE r5: a source split into several batches (maxFilesPerTrigger)
    // used to hard-fail the Update-mode drain; with declared updateKeys it
    // must instead post-aggregate latest-per-key. Split events into three
    // time-range files with increasing mod times so the file source
    // admits one time-ordered file per batch.
    import java.nio.file.{Files => JFiles}
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft_upd")
    val tbl = root.resolve("events.parquet")
    spark.read.parquet(s"$sf/events.parquet")
      .repartitionByRange(3, col("ts"))
      .write.parquet(tbl.toString)
    val parts = JFiles.list(tbl).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    assert(parts.size === 3)
    parts.zipWithIndex.foreach { case (p, i) =>
      JFiles.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000000000L + i * 600000L))
    }
    val got = EventStreams.runBounded(spark, { ss =>
      val schema = ss.read.parquet(tbl.toString).schema
      val ev = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/events.[p]arquet")
        // ts is a timestamp (NTZ in the current testdata shape) — derive
        // the Long nanos column the way eventStream does, NOT by renaming
        .withColumn("ts_nanos",
          unix_micros(col("ts").cast("timestamp")) * 1000L)
      EventStreams.sessionize(ss, ev, H).toDF()
    }, "upd_multi", OutputMode.Update(), updateKeys = Seq("user_id"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ns"))
    val want = spark.read.parquet(tbl.toString)
      .select(col("user_id"),
        (unix_micros(col("ts").cast("timestamp")) * 1000L).as("ns"))
      .withColumn("prev", lag(col("ns"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("prev").isNull || col("ns") - col("prev") > H, 1L)
          .otherwise(0L)).as("n_sessions"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // one row per user (stale per-batch rows de-aliased) AND the values
    // carry cross-batch session state, matching the batch computation
    assert(got === want)
  }

  test("windowed agg drops events older than the watermark") {
    // THE watermark semantic: state eviction only works because late
    // data is dropped — an event arriving behind the watermark must not
    // resurrect its (already finalized and evicted) window.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(h: Int, m: Int = 0) =
      TsEvent(java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00"))
    val input = MemoryStream[TsEvent]
    val q = EventStreams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).start()
    input.addData(t(0), t(0, 30), t(1), t(10))
    q.processAllAvailable() // watermark after batch 1: 10:00 − 2h = 8:00
    input.addData(t(0, 45), t(20)) // 0:45 is behind the watermark → drop
    q.processAllAvailable()
    input.addData(t(23)) // advance once more to flush the 10:00 window
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_test").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows(0L) === 2L, s"late event not dropped: $rows")
    assert(rows(1L) === 1L && rows(10L) === 1L, s"got $rows")
    spark.catalog.dropTempView("late_test")
  }

  test("sessionize merges state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[SessionEvent]
    val sessions = EventStreams.sessionize(spark,
      input.toDF().withColumn("ts_nanos", col("ts_nanos")),
      gapNanos = 2 * H)
    val q = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Update()).start()

    // batch 1: user 1 has two events 1h apart -> one session
    input.addData(SessionEvent(1L, 10 * H), SessionEvent(1L, 11 * H))
    q.processAllAvailable()
    // batch 2: same user, 30h later -> second session; plus a new user
    input.addData(SessionEvent(1L, 41 * H), SessionEvent(2L, 5 * H))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sess_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // last update per user wins
    val last = out.groupBy(_._1).view.mapValues(_.last).toMap
    assert(last(1L) == ((1L, 3L, 2L)), s"got ${last(1L)}")
    assert(last(2L) == ((2L, 1L, 1L)), s"got ${last(2L)}")
    spark.catalog.dropTempView("sess_test")
  }

  test("stream-stream LEFT OUTER join: null-extension waits for the watermark") {
    // the outer leg q79's inner join doesn't exercise — THE semantics
    // that makes outer stream-stream joins hard: an unmatched left row
    // cannot emit until the RIGHT watermark proves no future right row
    // can still match its time band (r_ts ∈ [l_ts − 1h, l_ts]). Pinned:
    // (a) the matched pair emits with the data batch; (b) the unmatched
    // row is HELD — not emitted null-extended prematurely — until a
    // later right batch advances the watermark past its band, then
    // emits exactly once with NULL right columns.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val H = 3600L * 1000000000L
    val lIn = MemoryStream[SessionEvent]
    val rIn = MemoryStream[SessionEvent]
    def sideDF(m: MemoryStream[SessionEvent], u: String, t: String) =
      m.toDF()
        .withColumn(t, timestamp_micros(expr("ts_nanos div 1000")))
        .select(col("user_id").as(u), col(t))
    val lt = sideDF(lIn, "l_user", "l_ts").withWatermark("l_ts", "0 seconds")
    val rt = sideDF(rIn, "r_user", "r_ts").withWatermark("r_ts", "0 seconds")
    val joined = lt.join(rt,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 1 HOUR") &&
        col("r_ts") <= col("l_ts"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssoj_test")
      .outputMode(OutputMode.Append()).start()
    def rows() = spark.table("ssoj_test").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    // batch 1: user 1 matches (right 30 min earlier); user 2 unmatched
    lIn.addData(SessionEvent(1L, 10 * H), SessionEvent(2L, 10 * H))
    rIn.addData(SessionEvent(1L, 10 * H - H / 2))
    q.processAllAvailable()
    val mid = rows()
    assert(mid.contains((1L, Some(1L))), mid.toSeq)
    assert(!mid.exists(_._1 == 2L),
      s"unmatched row emitted before the watermark proved no match: ${mid.toSeq}")
    // batch 2: later events on BOTH sides — the GLOBAL watermark is
    // min(left, right), so a right-only advance leaves it pinned at
    // user 2's own l_ts and the held row would wait forever (the
    // real-world "quiet side stalls the watermark" gotcha, worth
    // pinning in itself)
    lIn.addData(SessionEvent(88L, 12 * H))
    rIn.addData(SessionEvent(99L, 12 * H))
    q.processAllAvailable()
    // eviction emits in the batch after the watermark commit — nudge
    // with one more batch on both sides before asserting
    lIn.addData(SessionEvent(88L, 13 * H))
    rIn.addData(SessionEvent(99L, 13 * H))
    q.processAllAvailable()
    q.stop()
    val fin = rows()
    assert(fin.count(_ == ((2L, None))) == 1,
      s"expected exactly one null-extended row for user 2: ${fin.toSeq}")
    spark.catalog.dropTempView("ssoj_test")
  }

  test("stream-stream RIGHT OUTER join: the mirrored leg holds on the LEFT watermark") {
    // the side-swapped twin of the LEFT OUTER contract: an unmatched
    // RIGHT row (band l_ts ∈ [r_ts, r_ts + 1h]) cannot null-extend
    // until the LEFT watermark proves no future left row can reach its
    // band. Same three pins: matched emits with the batch, unmatched is
    // held, then emits exactly once with NULL left columns.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val H = 3600L * 1000000000L
    val lIn = MemoryStream[SessionEvent]
    val rIn = MemoryStream[SessionEvent]
    def sideDF(m: MemoryStream[SessionEvent], u: String, t: String) =
      m.toDF()
        .withColumn(t, timestamp_micros(expr("ts_nanos div 1000")))
        .select(col("user_id").as(u), col(t))
    val lt = sideDF(lIn, "l_user", "l_ts").withWatermark("l_ts", "0 seconds")
    val rt = sideDF(rIn, "r_user", "r_ts").withWatermark("r_ts", "0 seconds")
    val joined = lt.join(rt,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 1 HOUR") &&
        col("r_ts") <= col("l_ts"),
      "right_outer")
    val q = joined.writeStream.format("memory").queryName("ssroj_test")
      .outputMode(OutputMode.Append()).start()
    def rows() = spark.table("ssroj_test").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(2)))
    // user 1: right row 30 min before a left row — matched; user 2: a
    // right row no left ever answers — held
    lIn.addData(SessionEvent(1L, 10 * H))
    rIn.addData(SessionEvent(1L, 10 * H - H / 2), SessionEvent(2L, 10 * H))
    q.processAllAvailable()
    val mid = rows()
    assert(mid.contains((Some(1L), 1L)), mid.toSeq)
    assert(!mid.exists(_._2 == 2L),
      s"unmatched right row emitted before the left watermark cleared its band: ${mid.toSeq}")
    // advance BOTH watermarks past user 2's band top (10H + 1h), then
    // nudge one more batch so the eviction batch runs
    lIn.addData(SessionEvent(88L, 12 * H))
    rIn.addData(SessionEvent(99L, 12 * H))
    q.processAllAvailable()
    lIn.addData(SessionEvent(88L, 13 * H))
    rIn.addData(SessionEvent(99L, 13 * H))
    q.processAllAvailable()
    q.stop()
    val fin = rows()
    assert(fin.count(_ == ((None, 2L))) == 1,
      s"expected exactly one null-extended row for right user 2: ${fin.toSeq}")
    spark.catalog.dropTempView("ssroj_test")
  }

  test("stream-stream FULL OUTER join: both sides null-extend, each on the other's watermark") {
    // the last leg of the outer matrix: one query must simultaneously
    // (a) emit matches with the data batch, (b) hold an unmatched LEFT
    // row until the right watermark clears [l_ts − 1h, l_ts], and (c)
    // hold an unmatched RIGHT row until the left watermark clears
    // [r_ts, r_ts + 1h] — then each null-extends exactly once, on its
    // own side's schedule, sharing the same join state.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val H = 3600L * 1000000000L
    val lIn = MemoryStream[SessionEvent]
    val rIn = MemoryStream[SessionEvent]
    def sideDF(m: MemoryStream[SessionEvent], u: String, t: String) =
      m.toDF()
        .withColumn(t, timestamp_micros(expr("ts_nanos div 1000")))
        .select(col("user_id").as(u), col(t))
    val lt = sideDF(lIn, "l_user", "l_ts").withWatermark("l_ts", "0 seconds")
    val rt = sideDF(rIn, "r_user", "r_ts").withWatermark("r_ts", "0 seconds")
    val joined = lt.join(rt,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 1 HOUR") &&
        col("r_ts") <= col("l_ts"),
      "full_outer")
    val q = joined.writeStream.format("memory").queryName("ssfoj_test")
      .outputMode(OutputMode.Append()).start()
    def rows() = spark.table("ssfoj_test").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    // user 1 matched; user 2 left-only; user 3 right-only
    lIn.addData(SessionEvent(1L, 10 * H), SessionEvent(2L, 10 * H))
    rIn.addData(SessionEvent(1L, 10 * H - H / 2), SessionEvent(3L, 10 * H))
    q.processAllAvailable()
    val mid = rows()
    assert(mid.contains((Some(1L), Some(1L))), mid.toSeq)
    assert(!mid.exists(r => r._1 == Some(2L) && r._2.isEmpty),
      s"left row null-extended prematurely: ${mid.toSeq}")
    assert(!mid.exists(r => r._1.isEmpty && r._2 == Some(3L)),
      s"right row null-extended prematurely: ${mid.toSeq}")
    // user 2's hold clears when the watermark passes 10H (its band
    // top); user 3's when it passes 11H (= r_ts + 1h) — advancing both
    // sides to 12H clears both at once, nudge flushes the evictions
    lIn.addData(SessionEvent(88L, 12 * H))
    rIn.addData(SessionEvent(99L, 12 * H))
    q.processAllAvailable()
    lIn.addData(SessionEvent(88L, 13 * H))
    rIn.addData(SessionEvent(99L, 13 * H))
    q.processAllAvailable()
    q.stop()
    val fin = rows()
    assert(fin.count(_ == ((Some(2L), None))) == 1,
      s"expected exactly one left null-extension for user 2: ${fin.toSeq}")
    assert(fin.count(_ == ((None, Some(3L)))) == 1,
      s"expected exactly one right null-extension for user 3: ${fin.toSeq}")
    spark.catalog.dropTempView("ssfoj_test")
  }

  test("restart from checkpoint: offsets and state survive a stop/start cycle") {
    // the lifecycle half of the exactly-once story (the sink half is
    // appendBatch's, below): a stateful query stopped and RESTARTED on the
    // same checkpoint must (a) not reprocess already-committed input —
    // the file source's offset log records consumed files — and (b)
    // resume its aggregation STATE, not recompute from scratch. One
    // assertion pins both: user 1 gets v=10 before the restart and v=7
    // after; a correct resume reports s=17/n=2 (state restored, batch 1
    // not replayed), while a replay would show n=3 and a state loss
    // s=7/n=1. Update-mode memory sink after restart holds only keys
    // TOUCHED since the restart — user 2 (pre-restart only) must be
    // absent, which is itself the Update-contract worth pinning.
    import spark.implicits._
    val srcDir = tempDir("graft_ckpt_src")
    val ckpt = tempDir("graft_ckpt_loc")
    def addFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(srcDir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    // memory sink refuses checkpoint recovery (pinned by the engine
    // itself); foreachBatch is the recoverable sink — capture per
    // run-phase so pre- and post-restart emissions stay separable
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Long, Long, Long)]()
    def startQ(phase: Int) = spark.readStream
      .schema("user_id LONG, v LONG")
      .json(srcDir.toString)
      .groupBy(col("user_id"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.add((phase, r.getLong(0), r.getLong(1), r.getLong(2)))); ()
      }
      .start()
    addFile("b1.json", """{"user_id":1,"v":10}""", """{"user_id":2,"v":5}""")
    val q1 = startQ(1); q1.processAllAvailable(); q1.stop()
    addFile("b2.json", """{"user_id":1,"v":7}""")
    val q2 = startQ(2); q2.processAllAvailable(); q2.stop()
    import scala.jdk.CollectionConverters._
    val pre = got.asScala.filter(_._1 == 1).map(t => t._2 -> ((t._3, t._4))).toMap
    val post = got.asScala.filter(_._1 == 2).map(t => t._2 -> ((t._3, t._4))).toMap
    assert(pre.get(1L).contains((10L, 1L)) && pre.get(2L).contains((5L, 1L)),
      s"pre-restart batch wrong: $pre")
    assert(post.get(1L).contains((17L, 2L)),
      s"state not resumed or input replayed: $post")
    assert(!post.contains(2L),
      s"untouched key leaked into the post-restart Update emission: $post")
  }

  test("appendBatch: exactly-once streaming ingestion into the manifested table") {
    // the lakehouse completion of the exactly-once pair: L28c's sink
    // replaces a batch's OWN partition (overwrite-shaped); this one is
    // APPEND-shaped — the applied batch id commits inside the same
    // atomic manifest rename as the data, so a checkpoint replay's
    // redelivery is detected and commits NOTHING, while the table
    // keeps its whole feature set (versions, CDF, compaction, DML)
    // under the stream.
    import graft.sources.ManifestedTable
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft_mtx").toString
    val in = MemoryStream[SessionEvent]
    val q = in.toDF().writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        ManifestedTable.appendBatch(b, dir, id); ()
      }
      .start()
    in.addData(SessionEvent(1L, 100L), SessionEvent(2L, 200L))
    q.processAllAvailable()
    in.addData(SessionEvent(3L, 300L))
    q.processAllAvailable()
    q.stop()
    def rows() = ManifestedTable.read(spark, dir)
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows() == Seq(1L, 2L, 3L))
    val lastBatch = ManifestedTable.lastBatchId(spark, dir).get
    val vBefore = ManifestedTable.currentVersion(spark, dir)
    // the replay window: redeliver the last batch verbatim → no-op
    val replay = Seq(SessionEvent(3L, 300L)).toDF()
    assert(!ManifestedTable.appendBatch(replay, dir, lastBatch),
      "a redelivered batch was applied twice")
    assert(ManifestedTable.currentVersion(spark, dir) == vBefore)
    assert(rows() == Seq(1L, 2L, 3L))
    // a STALE id (older than the marker) is refused too
    assert(!ManifestedTable.appendBatch(replay, dir, lastBatch - 1))
    // the marker survives unrelated commits: compaction, then the same
    // redelivery is still a no-op (without carry-forward, a compacted
    // table would silently re-apply the batch)
    ManifestedTable.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(ManifestedTable.lastBatchId(spark, dir).contains(lastBatch),
      "compaction dropped the txn marker")
    assert(!ManifestedTable.appendBatch(replay, dir, lastBatch))
    assert(rows() == Seq(1L, 2L, 3L))
    // and a genuinely new batch still lands
    assert(ManifestedTable.appendBatch(
      Seq(SessionEvent(4L, 400L)).toDF(), dir, lastBatch + 1))
    assert(rows() == Seq(1L, 2L, 3L, 4L))
  }

  test("graft-manifest streaming source: version offsets, restart resumes, non-append fails loudly") {
    // the table's CHANGE FEED as a stream, making T79 replication
    // continuous: offsets are manifest versions (the commit log IS the
    // batch log — replay determinism is free from immutable
    // manifests), a batch covers the entries its versions ADDED, a
    // restart resumes from the checkpointed version, and a non-append
    // commit fails the query with a pointer at ignoreChanges (removed
    // rows cannot stream) — Delta's streaming-source contract.
    import graft.sources.ManifestedTable
    val dir = tempDir("graft_mstream").toString
    val chk = tempDir("graft_mschk").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 500)
    ManifestedTable.write(ev.filter(col("event_id") < 100), dir)

    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def start(opts: Map[String, String] = Map.empty) = {
      val r = spark.readStream.format("graft-manifest")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(dir).writeStream.option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.add(b.select("event_id").collect().map(_.getLong(0)).toSeq)
          ()
        }
        .start()
    }
    def drained(): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.flatten.sorted
    }
    def expect(p: org.apache.spark.sql.Column): Seq[Long] =
      ev.filter(p).select("event_id").collect().map(_.getLong(0)).sorted.toSeq

    // bootstrap from version 0: the drain equals the current snapshot
    // (append-only table ⇒ history = image)
    val q = start()
    q.processAllAvailable()
    assert(drained() == expect(col("event_id") < 100))

    // appends while running: each commit becomes a batch of exactly
    // its added files' rows
    ManifestedTable.write(
      ev.filter(col("event_id") >= 100 && col("event_id") < 200), dir,
      overwrite = false)
    q.processAllAvailable()
    assert(drained() == expect(col("event_id") < 200))
    q.stop()

    // appends while DOWN; the restart resumes from the committed
    // version — nothing replays, nothing skips
    ManifestedTable.write(
      ev.filter(col("event_id") >= 200 && col("event_id") < 300), dir,
      overwrite = false)
    buf.clear()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(drained() == expect(
      col("event_id") >= 200 && col("event_id") < 300),
      s"restart replayed or skipped: ${drained().take(8)}...")

    // a non-append commit (copy-on-write DELETE removes files) fails
    // the stream loudly
    ManifestedTable.deleteWhere(spark, dir, col("event_id") < 10)
    buf.clear()
    val q3 = start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage else rootMsg(t.getCause)
    assert(rootMsg(err).contains("ignoreChanges"),
      s"wrong failure: ${rootMsg(err)}")
    q3.stop()

    // ignoreChanges streams the rewrite's added files instead — the
    // surviving rows of the rewritten file re-deliver (the documented
    // at-least-once degradation), and new appends keep flowing
    buf.clear()
    val q4 = start(Map("ignoreChanges" -> "true"))
    q4.processAllAvailable()
    val afterDelete = drained()
    assert(afterDelete.nonEmpty && !afterDelete.exists(_ < 10),
      "the rewritten file's deleted rows leaked into the stream")
    ManifestedTable.write(
      ev.filter(col("event_id") >= 300 && col("event_id") < 350), dir,
      overwrite = false)
    q4.processAllAvailable()
    q4.stop()
    assert(drained().count(id => id >= 300 && id < 350) ==
      expect(col("event_id") >= 300 && col("event_id") < 350).size)
  }

  test("graft-manifest NATIVE streaming sink: exactly-once epochs, no foreachBatch shim") {
    // T78's appendBatch semantics inside the connector itself:
    // writeStream.format("graft-manifest") stages epoch-named files
    // through the DSv2 writers and commits each epoch as one
    // txn-marked manifest rename — restart resumes with nothing
    // double-landed, and the table keeps its whole feature set live
    import graft.sources.ManifestedTable
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft_nsink").toString
    val chk = tempDir("graft_nsinkc").toString
    val in = MemoryStream[SessionEvent]
    def start() = in.toDF().writeStream
      .format("graft-manifest")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", chk)
      .start(dir)

    val q = start()
    in.addData(SessionEvent(1L, 100L), SessionEvent(2L, 200L))
    q.processAllAvailable()
    in.addData(SessionEvent(3L, 300L))
    q.processAllAvailable()
    q.stop()
    def users() = ManifestedTable.read(spark, dir)
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(users() == Seq(1L, 2L, 3L))
    val marker = ManifestedTable.lastBatchId(spark, dir)
    assert(marker.isDefined, "the native sink did not record txn markers")

    // restart from the same checkpoint: nothing replays, new data lands
    val q2 = start()
    in.addData(SessionEvent(4L, 400L))
    q2.processAllAvailable()
    q2.stop()
    assert(users() == Seq(1L, 2L, 3L, 4L),
      "restart duplicated or dropped epochs")
    assert(ManifestedTable.lastBatchId(spark, dir).get > marker.get)

    // a direct replay of the recorded epoch is a provable no-op
    val v = ManifestedTable.currentVersion(spark, dir)
    assert(!ManifestedTable.appendBatch(
      Seq(SessionEvent(4L, 400L)).toDF(), dir,
      ManifestedTable.lastBatchId(spark, dir).get))
    assert(ManifestedTable.currentVersion(spark, dir) == v)

    // the table's other faces stay live under the stream's commits
    assert(spark.read.format("graft-manifest").load(dir).count() == 4)
    assert(ManifestedTable.history(spark, dir)
      .collect().map(_.getString(2)).forall(_ == "append"))
  }

  test("continuous CDC replication: manifest stream into the exactly-once sink") {
    // T79 made continuous: the follower is maintained by a STREAM over
    // the leader's manifest versions feeding appendBatch — both halves
    // of the exactly-once pair on the same table format. For an
    // append-shaped leader the follower equals the leader exactly
    // after a bounded drain, across a restart.
    import graft.sources.ManifestedTable
    val leader = tempDir("graft_cdcl").toString
    val follower = tempDir("graft_cdcf").toString
    val chk = tempDir("graft_cdck").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < 400)
    ManifestedTable.write(ev.filter(col("event_id") < 150), leader)

    def start() = spark.readStream.format("graft-manifest").load(leader)
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        ManifestedTable.appendBatch(b, follower, id); ()
      }
      .start()
    def img(d: String) = ManifestedTable.read(spark, d)
      .orderBy("event_id", "value").collect().toSeq

    val q = start()
    q.processAllAvailable()
    assert(img(follower) == img(leader), "bootstrap replication diverged")
    ManifestedTable.write(
      ev.filter(col("event_id") >= 150 && col("event_id") < 250),
      leader, overwrite = false)
    q.processAllAvailable()
    assert(img(follower) == img(leader))
    q.stop()

    // leader moves while the replicator is down; restart catches up
    // exactly once (the sink's txn marker suppresses any replay)
    ManifestedTable.write(
      ev.filter(col("event_id") >= 250), leader, overwrite = false)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(img(follower) == img(leader),
      "restarted replication skipped or duplicated rows")
  }

  test("mg_sketch as streaming window state keeps its guarantee across batches") {
    // the sketch-as-state path: a window's Misra-Gries buffer is
    // serialized into the state store between micro-batches and merged
    // with the next batch's partials — the containment guarantee (any
    // term with count > n/(cap+1) surfaces) must hold for the WHOLE
    // window no matter how the stream was batched. Terms are spread so
    // the heavy one is only heavy in AGGREGATE: batch 1 alone would
    // admit several pretenders, batch 2 pushes "hot" decisively over.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TypedEvent]
    def ev(h: Int, m: Int, t: String) = TypedEvent(
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00"), t)
    val q = input.toDF().withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("mg_sketch(event_type, 4)").as("sk"))
      .select(col("window.start"), col("sk.terms"), col("sk.err"))
      .writeStream.format("memory").queryName("hh_test")
      .outputMode(OutputMode.Append()).start()
    // window [10:00, 11:00): "hot" 6×, four distractors 2× each
    input.addData(ev(10, 1, "hot"), ev(10, 2, "hot"), ev(10, 3, "a"),
      ev(10, 4, "b"), ev(10, 5, "c"), ev(10, 6, "d"), ev(10, 7, "hot"))
    q.processAllAvailable()
    input.addData(ev(10, 21, "hot"), ev(10, 22, "hot"), ev(10, 23, "hot"),
      ev(10, 24, "a"), ev(10, 25, "b"), ev(10, 26, "c"), ev(10, 27, "d"))
    q.processAllAvailable()
    // advance the watermark far enough (2h delay) to finalize [10, 11)
    input.addData(ev(23, 0, "later"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hh_test").collect()
      .map(r => (r.getTimestamp(0), r.getSeq[String](1), r.getLong(2)))
    val w10 = rows.find(_._1 ==
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(w10.isDefined, rows.mkString(","))
    // n=14, cap=4 ⇒ err ≤ n/(cap+1) = 2.8; "hot" has 6 > err ⇒ the MG
    // guarantee REQUIRES it in the final window's candidate set, and it
    // was only that heavy across BOTH batches — the merged state is
    // what satisfies the bound
    val (_, terms, err) = w10.get
    assert(terms.contains("hot"), s"terms=$terms err=$err")
    assert(err <= 14L / 5L + 1, s"err bound violated: $err")
    spark.catalog.dropTempView("hh_test")
  }

  test("bounded streaming hourly counts equal the batch aggregate") {
    assertHourlyCountsMatchBatch("hourly_test")
  }

  test("session_window merges sessions across micro-batches (T24 streaming)") {
    // the built-in's whole streaming value: batch 2's event lands WITHIN
    // the gap of the session batch 1 opened, and the state store merges
    // the windows — no hand-written merge (contrast: sessionize above
    // codes it via GroupState). Append mode + watermark: the merged
    // session emits once the watermark passes its end, driven by a
    // far-future flush event in the last batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(hours: Double) = new java.sql.Timestamp((hours * 3600 * 1000).toLong)
    val input = MemoryStream[UserTsEvent]
    val sessions = EventStreams.sessionWindowCounts(
      input.toDF(), gapSec = 3600L, watermark = "2 hours")
    val q = sessions.writeStream.format("memory").queryName("swin_merge")
      .outputMode(OutputMode.Append()).start()
    // batch 1: user 1, events at 10.0h and 10.5h → one open session
    input.addData(UserTsEvent(1L, t(10.0)), UserTsEvent(1L, t(10.5)))
    q.processAllAvailable()
    // batch 2: 11.0h is 0.5h after the session's last event (< 1h gap)
    // → must MERGE into the open session, not start a second one
    input.addData(UserTsEvent(1L, t(11.0)))
    q.processAllAvailable()
    // batch 3: flush — watermark advances to 98h, far past the session
    // end (12h), so the merged session emits; the flusher's own session
    // stays open forever (never emitted), which is watermark semantics
    input.addData(UserTsEvent(9L, t(100.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("swin_merge")
      .filter(col("user_id") === 1L)
      .collect().map(r => (r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3)))
    assert(rows.toSeq === Seq((t(10.0), t(12.0), 3L)),
      s"expected ONE merged session [10h, 12h) of 3 events, got " +
        rows.mkString(", "))
    spark.catalog.dropTempView("swin_merge")
  }

  test("bounded session_window stream equals the batch q104 result") {
    // the same aggregation q104 runs in batch, as a watermarked stream
    // through the full bounded-drain machinery (clone session, state
    // store, AvailableNow, parquet sink). Complete mode: every session
    // is in the final batch's output regardless of watermark progress,
    // so the drain is exactly the batch answer.
    val got = EventStreams.runBounded(spark,
        ss => EventStreams.sessionWindowCounts(
          EventStreams.eventStream(ss, sf), gapSec = 3600L),
        "swin_batch_eq", OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3))).toSet
    val want = SparkEntry.queries("q104_session_window")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3))).toSet
    assert(got === want, s"sizes ${got.size} vs ${want.size}")
  }

  test("key-only dedup suppresses within the watermark, re-admits after expiry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long)]
    val ev = input.toDF().toDF("user_id", "ts_nanos")
      .withColumn("ts", timestamp_micros((col("ts_nanos") / 1000L).cast("long")))
    // ts is NOT in the key: same user at different times is still one
    // row while its state lives
    val dedup = EventStreams.dedupWithinWatermark(ev, Seq("user_id"), "1 hour")
      .select(col("user_id"))
    val q = dedup.writeStream.format("memory").queryName("wm_dedup_test")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, 10 * H), (1L, 10 * H + H / 2), (2L, 10 * H))
    q.processAllAvailable()
    assert(spark.table("wm_dedup_test").count() == 2) // users 1, 2 once each
    // advance the watermark far past user 1's expiry (10.5h + 1h delay)
    input.addData((9L, 20 * H))
    q.processAllAvailable()
    // user 1's state expired → the key is admitted again
    input.addData((1L, 21 * H))
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("wm_dedup_test").groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 1L, 9L -> 1L), counts.toString)
    spark.catalog.dropTempView("wm_dedup_test")
  }

  test("bloom screen composes into a stream: map-side drop against a reference sketch") {
    // The streaming deployment of q89's pattern: ingestion screens each
    // batch against a (periodically rebuilt) reference Bloom filter.
    // The probe is a plain scalar expression over a broadcast literal —
    // stateless, so it rides inside any streaming plan without a state
    // store or watermark.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val refBloom = Seq(10L, 30L, 50L).toDF("k")
      .agg(expr("bloom_build(k, 1000L, 0.0001d)")).head.getAs[Array[Byte]](0)
    val input = MemoryStream[Long]
    val screened = input.toDF().toDF("user_id")
      .filter(!call_function("bloom_might_contain", lit(refBloom), col("user_id")))
    val q = screened.writeStream.format("memory").queryName("bloom_scr")
      .outputMode(OutputMode.Append()).start()
    input.addData(10L, 20L, 30L)
    q.processAllAvailable()
    input.addData(40L, 50L)
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("bloom_scr").as[Long].collect().toSet
    assert(kept == Set(20L, 40L), s"got $kept")
    spark.catalog.dropTempView("bloom_scr")
  }
}
