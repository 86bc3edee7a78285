package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §2.9 — beyond-reference): the
  * engine's aggregation and dedup paths re-expressed over an unbounded
  * source, plus custom session state via flatMapGroupsWithState.
  *
  * Design: streams are plain DataFrames from `readStream`; every
  * transform below also works on a batch DataFrame, so the bounded
  * oracle harness runs the SAME code with `Trigger.AvailableNow` into a
  * memory sink and compares against the batch SQL oracle.
  *
  * Scale notes: windowed aggregates carry watermarks so state is evicted
  * (unbounded state is the streaming scale-killer); sessionization keys
  * state by user — state size is O(active users), not O(events).
  */
object EventStreams {

  /** Unbounded `events` source: parquet file stream with the batch
    * table's schema (ts arrives as raw TIMESTAMP(NANOS) Long, converted
    * exactly like `Tables.events`).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a directory basePath; the testdata table is a
    // single file, so address it with a glob — glob paths anchor basePath
    // at the glob's parent directory instead of the file itself
    val raw = spark.readStream.schema(schema)
      .parquet(s"$dir/events.[p]arquet")
    if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts_nanos", col("ts"))
        // integer `div`, NOT `/`: Long / Long coerces to double division,
        // and 2024-era nano timestamps (~1.7e18) exceed 2^53 — the double
        // round-trip can land 1 µs off, silently diverging from the batch
        // path (Tables.normalizeTs) and the oracle on boundary rows
        .withColumn("ts", timestamp_micros(expr("ts_nanos div 1000")))
    else
      // timestamp[us] testdata arrives as TIMESTAMP_NTZ (Spark 4 infers
      // NTZ from isAdjustedToUTC=false); normalize to session-zoned
      // TimestampType FIRST exactly like Tables.normalizeTs — the session
      // tz is UTC so the cast is value-preserving, and unix_micros
      // rejects NTZ input outright (the round-11 analysis error that
      // broke all five streaming queries). On an already-LTZ column the
      // cast is a no-op Catalyst removes.
      raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
        .withColumn("ts_nanos", unix_micros(col("ts")) * 1000L)
  }

  /** Event-time windowed VALUE histogram (T40): the streaming producer
    * of q130's mergeable quantile partials — per (hour window, fixed
    * bucket) integer counts, watermark-evicted. State per window is
    * ≤ histB rows regardless of event volume or value distribution, and
    * the emitted partials merge downstream by plain SUM-by-bucket —
    * percentile estimates over any window span without rescanning the
    * stream, with q130's ≤ 2-bucket error bound.
    */
  def windowedValueHistogram(ev: DataFrame, histB: Long, histW: Double,
                             watermark: String = "2 hours",
                             extraKeys: Seq[String] = Nil): DataFrame =
    ev.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour") +:
        least(lit(histB - 1),
          floor(col("value") / histW).cast("long")).as("bucket") +:
        extraKeys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start") +: col("bucket") +:
        col("cnt") +: extraKeys.map(col): _*)

  /** Event-time hourly histogram with watermark — the streaming mirror of
    * `TrafficOps.hourlyCount`. Late data beyond the watermark is dropped;
    * window state is evicted as the watermark advances.
    */
  def hourlyCounts(ev: DataFrame, watermark: String = "2 hours"): DataFrame =
    ev.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(hour(col("window.start")).cast("long").as("hour"),
        col("window.start").as("window_start"), col("cnt"))

  /** Key-only streaming dedup (`dropDuplicatesWithinWatermark`): the
    * event-time column is NOT part of the key — a key is emitted once
    * and suppressed until the watermark passes its last-seen event
    * time, the retry-collapse/at-least-once-ingest pass.
    * State per key is bounded by the watermark delay, not stream
    * history.
    */
  def dedupWithinWatermark(ev: DataFrame, keyCols: Seq[String],
                           watermark: String): DataFrame =
    ev.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The built-in `session_window` aggregation as a stream — the
    * streaming twin of q104 (RelEntry), completing T24's claim that the
    * built-in gets STATE MERGING for free: when a later micro-batch
    * delivers an event within the gap of an open session (or bridging
    * two previously-separate sessions), the state store merges the
    * session windows server-side — the hand-rolled q45 flatMapGroups
    * version must code that merge by hand. Watermark bounds state: a
    * session older than (watermark − gap) can never grow again and is
    * evicted. Same projection as the batch q104, so the bounded drain
    * faces the same oracle shape.
    */
  def sessionWindowCounts(ev: DataFrame, gapSec: Long,
                          watermark: String = "2 hours"): DataFrame =
    ev.withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSec seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  // ---- custom state: sessionization ------------------------------------
  final case class SessionEvent(user_id: Long, ts_nanos: Long)
  final case class SessionState(lastTs: Long, sessions: Long, events: Long)
  final case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Per-user session counting with explicit GroupState: a new session
    * starts when the gap to the previous event exceeds `gapNanos`.
    * Batch-internal events are sorted by time inside the group function;
    * state carries (lastTs, counts) across micro-batches. Emits the
    * running per-user aggregate each batch (Update mode).
    */
  def sessionize(spark: SparkSession, ev: DataFrame,
                 gapNanos: Long): Dataset[UserSessions] = {
    import spark.implicits._
    ev.select(col("user_id"), col("ts_nanos"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = events.map(_.ts_nanos).toArray.sorted
          if (sorted.isEmpty) Iterator.empty
          else {
            val prev = state.getOption
            var (lastTs, sessions, nEvents) = prev
              .map(s => (s.lastTs, s.sessions, s.events))
              .getOrElse((Long.MinValue, 0L, 0L))
            sorted.foreach { t =>
              if (lastTs == Long.MinValue || t - lastTs > gapNanos) sessions += 1
              lastTs = t; nEvents += 1
            }
            state.update(SessionState(lastTs, sessions, nEvents))
            Iterator.single(UserSessions(user, nEvents, sessions))
          }
      }
  }

  /** Scratch root shared by every bounded run in this JVM: ONE shutdown
    * hook cleans the whole tree — a hook per invocation would accumulate
    * unboundedly across a long bench loop (ADVICE r3). Each run writes
    * under its own numbered subdirectory, so repeated or concurrent runs
    * never collide.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_stream_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(r).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }))
    r
  }
  private val runIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run a streaming transform of the bounded `events` source to
    * completion (AvailableNow) and return the result — the bridge that
    * lets streaming queries face the batch DuckDB oracle.
    *
    * `build` receives a CLONED session (`spark.newSession`) and must
    * construct the stream from it: the drain overrides the
    * stateful-operator partition count (below), and setting that on the
    * caller's session would silently apply to any concurrent batch query
    * on the same session (ADVICE r3). The clone shares the SparkContext
    * and cached data but owns its SQLConf; the parent's runtime confs
    * are copied over so runtime choices (state-store provider, graft.*
    * knobs) still apply — static confs (extensions, warehouse) can't be
    * re-set and already match via the shared SparkConf.
    *
    * The sink is `foreachBatch` → parquet in a scratch directory, NOT the
    * memory sink: the memory sink pins every result row in driver memory,
    * which for data-dependent outputs (a stream-stream join) is a driver
    * OOM at scale. Complete mode overwrites per batch (each batch carries
    * the full result); Append/Update append their per-batch deltas. Rows
    * stay on executors/disk end to end; the scratch tree is removed on
    * JVM exit.
    *
    * Stateful-operator partition count (= state store instances) is
    * frozen from spark.sql.shuffle.partitions at query start. A
    * production stream sizes it to key cardinality; this bounded drain
    * can size it to the drained volume. The count matters far more than
    * for batch shuffles: a stream-stream join opens FOUR RocksDB
    * instances per partition, so 32 partitions = 128 store open/commit
    * cycles per run (~10 s of fixed cost at local[32]) where 4
    * partitions complete the same drain in ~2.5 s.
    * Precedence (resolved HERE and nowhere else): the
    * SPARK_GRAFT_STREAM_PARTITIONS env var is the operator's override
    * and wins; the `graft.stream.partitions` runtime conf is the
    * programmatic default (what Bench sets); otherwise the session's
    * shuffle-partition setting stands.
    */
  def runBounded(spark: SparkSession, build: SparkSession => DataFrame,
                 sinkName: String, mode: OutputMode,
                 updateKeys: Seq[String] = Nil): DataFrame = {
    val root = java.nio.file.Files.createDirectories(
      scratchRoot.resolve(s"${sinkName}_${runIds.incrementAndGet()}"))
    val session = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(session.conf.set(k, v))
    }
    sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").filter(_.nonEmpty)
      .orElse(spark.conf.getOption("graft.stream.partitions").filter(_.nonEmpty))
      .foreach(n => session.conf.set("spark.sql.shuffle.partitions", n))
    val out = build(session)
    val dataDir = root.resolve("data").toString
    val saveMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    val isUpdate = mode == OutputMode.Update()
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = out.writeStream
      .outputMode(mode)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches.incrementAndGet()
        // Update mode emits a row per TOUCHED key per batch; stamping the
        // batch id lets the post-drain pass keep only each key's newest
        // row, so a multi-batch drain (e.g. a maxFilesPerTrigger-style
        // source split) stays correct instead of aliasing stale rows
        val stamped =
          if (isUpdate) batch.withColumn("_graft_batch", lit(batchId))
          else batch
        stamped.write.mode(saveMode).parquet(dataDir)
      }
      .start()
    q.awaitTermination()
    // Update mode without declared keys can't be de-aliased after a
    // multi-batch drain — fail loudly rather than return stale rows
    // (single-batch runs are still exact). With keys, any batch count is
    // handled below.
    if (isUpdate && updateKeys.isEmpty && batches.get() > 1)
      throw new IllegalStateException(
        s"Update-mode bounded drain ran ${batches.get()} batches and no " +
          "updateKeys were declared; stale per-batch rows would alias " +
          "final ones — pass the query's grouping keys to runBounded")
    // zero batches executed → foreachBatch never wrote dataDir; return
    // an empty frame with the query's schema (memory-sink behavior)
    if (java.nio.file.Files.exists(root.resolve("data"))) {
      val drained = spark.read.parquet(dataDir)
      if (!isUpdate) drained
      else if (updateKeys.isEmpty) drained.drop("_graft_batch")
      else {
        // latest-per-key: one row per key from its highest batch. Keys
        // are unique within a batch (one row per touched key), so the
        // window has a total order.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(updateKeys.map(col): _*)
          .orderBy(col("_graft_batch").desc)
        drained.withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") === 1)
          .drop("_graft_batch", "_graft_rn")
      }
    } else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), out.schema)
  }
}
