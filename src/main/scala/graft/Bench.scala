package graft

import java.nio.file.{Files, Paths}

/** Per-round benchmark main. Fidelity rules (VERDICT r01 §wrong-2,
  * r06–r08 §wrong: one-shot timing produced ±25–36% phantom swings
  * across rounds with zero code change):
  *  - full materialization via the `noop` sink, never `.count()` — count
  *    lets Catalyst prune every projected expression, so projection-heavy
  *    queries would benchmark near-zero work;
  *  - one untimed warmup query first per distinct codegen/JIT path
  *    (JVM/codegen warmup otherwise lands on whichever query runs first);
  *  - MEDIAN-OF-N timing: every query runs `Runs` (default 3) timed
  *    shots post-warmup; the reported number is the median, with min and
  *    spread (max−min) carried alongside so a claimed regression can be
  *    distinguished from machine-load/JIT noise. The total is the sum of
  *    medians;
  *  - SPREAD-GATED RETRY (VERDICT r10 wrong-1: a contended host put
  *    0.7–2.7 s spreads on untouched queries and the published number
  *    carried them silently): when the tightest `Runs`-sized window of
  *    a query's shots still spans more than its median-scaled gate
  *    (`SpreadGate` 50%, tightening to `SpreadGateHeavy` 12% above a
  *    2 s median — r13), up to `MaxRetries` (2) extra shots are taken and the
  *    tightest window of ALL shots is what's reported; the discarded
  *    shots and retry count ride in `bench_result.json`, and a query
  *    whose best window STILL exceeds the gate, or whose discarded
  *    shots ran faster than it by more than the gate, is flagged
  *    `"contended":true` — the artifact says "this number is soft"
  *    instead of the reader discovering it four rounds later;
  *  - streaming setup isolation: the six streaming queries (q44/q45/q62/
  *    q79/q99/q140) pay a fresh
  *    streaming-session + state-store setup on every run; `setup` reports
  *    the median wall time of a near-empty bounded stream through the
  *    same machinery (watermark + windowed agg + parquet drain), i.e. the
  *    pure fixed cost a long-lived production stream would amortize away;
  *  - failures recorded per-query as -1 + an `"errors"` map, never
  *    swallowed;
  *  - the result JSON is written full-fidelity (per-query median/min/max
  *    + every raw run) to `bench_result.json`, and a COMPACT copy is the
  *    final stdout line — the driver keeps only a 2000-char stdout tail,
  *    so the line must fit that window whole or it can't be parsed.
  */
object Bench {
  /** Timed runs per query (post-warmup). 3 is the floor where a median
    * rejects a single-run outlier; SPARK_GRAFT_BENCH_RUNS overrides.
    */
  private[graft] val DefaultRuns = 3

  /** Spread gate: a reported window whose (max−min) exceeds this
    * fraction of its median is contention-suspect — 50% is far above
    * the ~0.2 s envelope a quiet host holds at sf0.1, and far below
    * the 2–7× swings contention produces.
    */
  private[graft] val SpreadGate = 0.5

  /** Tighter relative gate for HEAVY queries (median > HeavyMedianSec):
    * the absolute envelope a quiet host holds is roughly constant
    * (~0.2 s), so on a 5 s median a 50% gate tolerates a 2.5 s spread —
    * 10× the quiet envelope (r12: q108/q111 carried 0.5–0.7 s spreads
    * under the gate yet dominated the residual bench noise). Scaling
    * the threshold DOWN with the median buys those queries the same
    * one-or-two gated extra shots the rest of the run gets.
    */
  private[graft] val SpreadGateHeavy = 0.12
  private[graft] val HeavyMedianSec = 2.0

  /** Extra shots a gated query may take (bounded so one contended query
    * can't stall the whole run).
    */
  private[graft] val MaxRetries = 2

  /** Per-query retry record carried into `bench_result.json`: how many
    * extra shots the spread gate took, which shots the tightest-window
    * selection discarded, and whether the kept window is [[contended]]
    * (the number is soft — read it with its canary).
    */
  private[graft] final case class Retry(extra: Int, discarded: Seq[Double],
                                        contended: Boolean)

  /** The k shots with the smallest max−min among all sorted k-windows —
    * the run the session WOULD have produced without the contention
    * outliers. Ties break toward the fastest window (contention only
    * ever adds time). k ≥ xs.size returns xs whole.
    */
  private[graft] def tightestWindow(xs: Seq[Double], k: Int): Seq[Double] = {
    val s = xs.sorted
    if (s.length <= k) s
    else (0 to s.length - k).map(i => s.slice(i, i + k))
      .minBy(w => (w.last - w.head, w.head))
  }

  /** Absolute spread floor (seconds) under which the gate never fires:
    * sub-100 ms envelopes on sub-second queries are JIT/scheduler
    * jitter, not contention — without the floor a sf0.001 session spent
    * 73 retry shots tightening ~50 ms spreads that carry no signal
    * (the r10 phantoms were 0.7–2.7 s spreads; the floor is an order of
    * magnitude below them).
    */
  private[graft] val SpreadFloorSec = 0.1

  /** True when a window of shots spans more than its median-scaled gate
    * fraction AND more than the absolute floor — the retry trigger and
    * the residual `contended` flag. The gate fraction tightens from
    * SpreadGate to SpreadGateHeavy once the median clears
    * HeavyMedianSec (see those constants for the rationale).
    */
  private[graft] def gated(ts: Seq[Double]): Boolean =
    ts.length >= 2 && overGate(ts.max - ts.min, median(ts))

  /** A gap in seconds over the gate of a window with median `med`. */
  private def overGate(gap: Double, med: Double): Boolean = {
    val gate = if (med > HeavyMedianSec) SpreadGateHeavy else SpreadGate
    gap > gate * med && gap > SpreadFloorSec
  }

  /** The residual `contended` flag of a kept window: the window itself is
    * [[gated]], or a discarded shot ran faster than the window's fastest
    * by more than the gate — the tightest window then sits on a plateau
    * of contended shots (q17 kept 0.88–1.02 s while two discarded shots
    * measured 0.16 s).
    */
  private[graft] def contended(window: Seq[Double],
                               discarded: Seq[Double]): Boolean =
    gated(window) || (window.nonEmpty && discarded.nonEmpty &&
      overGate(window.min - discarded.min, median(window)))

  /** Counts the Spark jobs a session starts. [[take]] drains the
    * listener bus first, so its count is complete once an action has
    * returned.
    */
  private[graft] final class JobCounter(sc: org.apache.spark.SparkContext)
      extends org.apache.spark.scheduler.SparkListener {
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    sc.addSparkListener(this)
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      n.incrementAndGet()
    /** Jobs started since the last take. */
    def take(): Int = {
      org.apache.spark.sql.graftshim.GraftSqlInternals.drainListeners(sc)
      n.getAndSet(0)
    }
    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Unpersist every registered RDD block — the shared pre-shot hygiene
    * of both benches (see the call site in main() for the measured
    * rationale; ScaleBench reuses this so the two sweeps cannot drift).
    */
  private[graft] def sweepBlocks(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.trim.toInt)
      .filter(_ >= 1).getOrElse(DefaultRuns)
    // CPU canary (ScaleBench.canary): fixed corpus-independent compute
    // timed before any Spark work and again after spark.stop(). Two
    // bench sessions' numbers are cross-comparable only when their
    // canaries match — the host contends invisibly (loadavg sees only
    // our own runqueue), and r10 measured identical sessions 3-4x apart
    // on heavy queries while canaries moved <30%. BenchDiff reads this
    // field and annotates comparability.
    ScaleBench.canary(1, 20000000L) // JIT warmup, untimed
    val canS0 = ScaleBench.canary(1)
    val canP0 = ScaleBench.canary(cpus.toInt)
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bounded-drain streaming queries: size stateful-operator partitions
    // to the drained volume (sf≤0.1 ⇒ state fits in a handful of
    // partitions). The default 32 would open 128 RocksDB state stores
    // for the stream-stream join — ~10 s of fixed store-setup cost per
    // run that says nothing about the plan. This conf is the
    // programmatic default; the SPARK_GRAFT_STREAM_PARTITIONS env var
    // overrides it (precedence lives in EventStreams.runBounded).
    spark.conf.set("graft.stream.partitions", "4")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: one query per distinct codegen/JIT path (scan+agg, string
    // exprs, HOF+explode, array-HOF+window, Jackson/from_json, the
    // Structured Streaming machinery), untimed — otherwise whichever
    // query first touches a path pays its JIT cost in the reported number
    // (VERDICT r02 §wrong-3: q49's 4 s was Jackson JIT; streaming setup
    // similarly dominated q44/q45/q62/q79's first run)
    // q44 covers the streaming-aggregation state store; q79's
    // stream-stream join loads a separate store path (4 state store
    // instances per partition) whose first-touch cost is setup, not plan
    for (w <- Seq("q01_hourly_count", "q19_strings", "q29_top_tokens",
                  "q38_cosine_topk", "q49_json_extract", "q44_stream_hourly",
                  "q79_stream_stream_join"))
      try materialize(SparkEntry.queries(w)(spark, sfDir))
      catch { case _: Throwable => () }

    var errors = List.empty[(String, String)]
    // Leftover-block sweep: detached results (localCheckpoint blocks,
    // core.Materialize) are only reclaimed when the ContextCleaner
    // notices the dropped reference — left alone they pile up in the
    // block manager across a 98-query run, and later queries pay
    // spill/GC pressure that depends on collector timing (measured:
    // q61 at a 16x corpus runs 2.0 s in a clean session, 7-8 s after a
    // handful of prior queries — the same contiguous-block swings three
    // rounds of one-shot benches misread as machine noise). Unpersist
    // only, deliberately NO forced GC: the sweep alone holds per-query
    // spread to ~0.2 s at sf0.1, while a System.gc() per query or per
    // shot measured +10 s across the 98 queries (code-cache/soft-ref
    // re-warm billed to the timed shots) with no variance reduction.
    // ScaleBench, whose multi-hundred-MB sessions DO accumulate
    // GC-resistant humongous-array garbage (measured 3-6x late-session
    // degradation), keeps a per-(query, scale) GC — different workload,
    // different hygiene.
    def sweepBlocks(): Unit = Bench.sweepBlocks(spark)

    // comma-separated subset for profiling one query's distribution
    // (mirrors ScaleBench's SPARK_GRAFT_SCALE_QUERIES); unset = all.
    // Unknown names abort: a typo must not silently bench nothing and
    // clobber bench_result.json (the baseline a later diff compares to)
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    subset.foreach { qs =>
      val unknown = qs -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_QUERIES names unknown queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")} (known: full names " +
          "like q71_dup_clusters)")
    }
    val retryInfo = Map.newBuilder[String, Retry]
    // Spark jobs per shot, counted outside the timed span
    val jobCounter = new JobCounter(spark.sparkContext)
    val jobsInfo = Map.newBuilder[String, Long]
    val results: Seq[(String, Seq[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => subset.forall(_.contains(n)) }
        .map { case (name, fn) =>
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        val shotJobs = scala.collection.mutable.ArrayBuffer.empty[Int]
        var failed = false
        def shot(): Unit = {
          // sweep before EVERY timed run, not just the first: a heavy
          // query's own detached blocks from run i otherwise pressure
          // run i+1 (q97 measured 1.6 s first run, 3.3-3.9 s later runs)
          sweepBlocks()
          jobCounter.take()
          val t0 = System.nanoTime()
          try {
            materialize(fn(spark, sfDir))
            times += (System.nanoTime() - t0) / 1e9
            shotJobs += jobCounter.take()
          }
          catch { case e: Throwable =>
            errors ::= (name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
            failed = true
          }
        }
        var i = 0
        while (i < runs && !failed) { shot(); i += 1 }
        // spread-gated retry: while the best runs-sized window still
        // spans > SpreadGate of its median, take a bounded number of
        // extra shots — a contention spike hits SOME shots, so widening
        // the sample lets the tightest-window selection route around it
        var extra = 0
        while (!failed && extra < MaxRetries &&
               gated(tightestWindow(times.toSeq, runs))) {
          shot()
          if (!failed) extra += 1
        }
        // a failure on ANY run voids the query: keeping the runs that
        // happened to succeed would report a flaky query as a valid
        // (short) median AND list it in errors — the '-1 = error'
        // encoding must be the single story the artifact tells
        if (failed) name -> Seq.empty[Double]
        else {
          val window = tightestWindow(times.toSeq, runs)
          val discarded = times.toSeq.diff(window).sorted
          val soft = contended(window, discarded)
          if (extra > 0 || soft)
            retryInfo += name -> Retry(extra, discarded, soft)
          jobsInfo += name -> Math.round(median(
            window.map(t => shotJobs(times.indexOf(t)).toDouble)))
          name -> window
        }
      }

    // Streaming fixed-cost probe: the same bounded-drain machinery the
    // streaming queries run through (fresh cloned session, event-time
    // window agg + watermark, state store, AvailableNow drain, parquet
    // sink) over a source filtered to ~nothing — its wall time IS the
    // per-run setup a production (long-lived) stream pays once, reported
    // separately so the streaming queries can be read net of it.
    val setupTimes = (1 to runs).flatMap { _ =>
      val t0 = System.nanoTime()
      try { materialize(streamSetupProbe(spark, sfDir))
            Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }
    val setupSec = if (setupTimes.isEmpty) -1.0 else median(setupTimes)

    jobCounter.close()
    val total = results.collect { case (_, ts) if ts.nonEmpty => median(ts) }.sum
    // a teardown failure must not discard a full session's measurements —
    // the artifacts are written right after; the end-canary wants the
    // post-Spark quiet JVM but survives a noisy stop just as well
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"Bench: spark.stop() failed (ignored): $e") }
    val canary = Seq(canS0, canP0, ScaleBench.canary(1),
      ScaleBench.canary(cpus.toInt))
    val retries = retryInfo.result()
    report(System.out, Paths.get("bench_result.json"),
      fullJson(results, errors, total, sfDir, runs, setupSec, canary,
        retries, jobsInfo.result()),
      compactJson(results, errors.size, total, sfDir, runs, setupSec,
        canary, retries))
    // A session with ANY erroring query must not exit 0 — round 11
    // published rc:0 beside errors:7, so anything gating on exit status
    // (CI, a bench loop) read a broken run as green (ADVICE r11). Exit
    // AFTER both artifacts are written and stdout is flushed: the forked
    // runner's extra "[error] Nonzero exit code" noise lands after the
    // compact line and is budgeted for in compactJson's maxLen.
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Writes the full record to `resultFile`, then prints it and the
    * compact line, in that order. The compact line goes LAST because a
    * reader of the run's output keeps only its last 2000 characters:
    * printed last, the ~30 KB full record left that window holding a
    * fragment of itself, and no per-query figure could be parsed from
    * it. The compact line fits the window whole (see [[compactJson]]'s
    * rungs, guarded by BenchEncodeSpec); per-query diffs read the full
    * record from `resultFile`.
    */
  private[graft] def report(out: java.io.PrintStream,
      resultFile: java.nio.file.Path, full: String, compact: String): Unit = {
    Files.writeString(resultFile, full + "\n")
    out.println(full)
    out.println(compact)
    out.flush()
  }

  /** Near-empty bounded stream through the full streaming machinery —
    * measures session-clone + state-store + drain fixed cost, not plan
    * cost. ~100 events survive the pushed filter so the parquet drain
    * always materializes (an empty drain would skip the sink path).
    */
  private def streamSetupProbe(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    import graft.streaming.EventStreams
    EventStreams.runBounded(s,
      ss => EventStreams.hourlyCounts(
        EventStreams.eventStream(ss, d)
          .filter(org.apache.spark.sql.functions.col("event_id") < 100)),
      "setup_probe", org.apache.spark.sql.streaming.OutputMode.Complete())
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private[graft] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => " "; case c => c.toString
  }

  /** Seconds with 3 decimals, locale-pinned (a comma decimal separator
    * from a non-ROOT default locale would corrupt the JSON).
    */
  private[graft] def fmt3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Full-name, full-precision record — written to `bench_result.json`
    * and printed once for human log readers. Per query: median/min/max
    * seconds plus every raw run (so any future "X× regression" claim can
    * be checked against the raw distribution, not a point estimate),
    * and `jobs`, the median count of Spark jobs over the kept shots.
    * The compact line carries no job counts.
    */
  private[graft] def fullJson(results: Seq[(String, Seq[Double])],
                              errors: List[(String, String)],
                              total: Double, sfDir: String,
                              runs: Int, setupSec: Double,
                              canary: Seq[Double] = Nil,
                              retries: Map[String, Retry] = Map.empty,
                              jobs: Map[String, Long] = Map.empty)
      : String = {
    val qs = results.map { case (k, ts) =>
      if (ts.isEmpty) s""""${esc(k)}":{"median":-1,"min":-1,"max":-1,"runs":[]}"""
      else {
        val rs = ts.map(_.toString).mkString("[", ",", "]")
        // spread-gated queries carry their retry record: extra shots
        // taken, the shots the tightest-window selection discarded, and
        // whether even the best window stayed over the gate (contended
        // = "read this number with its canary, not at face value")
        val rt = retries.get(k).map { r =>
          val d = r.discarded.map(_.toString).mkString("[", ",", "]")
          s""","retries":${r.extra},"discarded":$d,"contended":${r.contended}"""
        }.getOrElse("")
        val js = jobs.get(k).map(j => s""","jobs":$j""").getOrElse("")
        s""""${esc(k)}":{"median":${median(ts)},"min":${ts.min},"max":${ts.max},"runs":$rs$js$rt}"""
      }
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    // canary = (single_start, par_start, single_end, par_end) seconds
    val can =
      if (canary.size != 4) ""
      else s""","canary":{"single_s":[${canary(0)},${canary(2)}],"par_s":[${canary(1)},${canary(3)}]}"""
    // the gate parameters ride in the artifact so a diff reader knows
    // WHICH retry policy produced the envelopes it is comparing
    val gate = s""","gate":{"base":$SpreadGate,"heavy":$SpreadGateHeavy,""" +
      s""""heavy_min_s":$HeavyMedianSec,"floor_s":$SpreadFloorSec}"""
    s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"stream_setup_s":$setupSec$can$gate,"queries":$qs,"errors":$errJson,"sf":"${esc(sfDir)}"}"""
  }

  /** Compact single line for the driver's bounded tail window.
    *
    * Encoding (documented by the in-line "enc" field): `queries` maps the
    * dense `qNN` prefix (unique by ContractSpec's dense-numbering guard)
    * to the MEDIAN in integer milliseconds (-1 = error); `dmin` and
    * `spread` are positional arrays in `queries` (= sorted-name) order,
    * also integer ms: `dmin[i]` = median−min (so min = median−dmin) and
    * `spread[i]` = max−min. `value` stays the sum of medians in seconds;
    * `setup` is the streaming fixed-cost probe median in seconds; `can`
    * is the CPU canary in integer ms (single_start, par_start,
    * single_end, par_end — see main()); when the spread gate fired,
    * `rt` = total extra shots and `cont` = count of queries whose best
    * window still exceeds the gate (both omitted on a quiet run).
    *
    * Tail budget: the driver keeps 2000 chars and sbt appends ~70 chars
    * of `[success]` noise (or ~150 of exit-code noise on an erroring
    * run), so the line must stay under 1800. Degradation order when the
    * full triple overflows (e.g. a much larger query set): drop `dmin`
    * first (min is the least load-bearing of the three), then the
    * positional `spread` collapses to the SPARSE `spreadx` object (only
    * spreads above the jitter floor — what BenchDiff actually acts on),
    * then spreadx truncates to its top-N noisiest entries, then medians
    * shed a digit (integer CENTISECONDS, r14 — the tail consumer grades
    * coarse wall-clock; ms fidelity stays in bench_result.json) to buy
    * the envelope back, and only past that do cs medians ride alone.
    * Error messages live in `bench_result.json`; only the COUNT rides
    * here.
    */
  private[graft] def compactJson(results: Seq[(String, Seq[Double])],
                                 nErrors: Int, total: Double,
                                 sfDir: String, runs: Int,
                                 setupSec: Double,
                                 canary: Seq[Double] = Nil,
                                 retries: Map[String, Retry] = Map.empty)
      : String = {
    // 2000-char driver tail, minus ~70 chars of sbt `[success]` noise on
    // a clean run or ~150 chars of `[error] Nonzero exit code` noise when
    // main() exits 1 on erroring queries — budget for the louder case
    val maxLen = 1800
    def ms(v: Double): Long = Math.round(v * 1000)
    val qs = results.map { case (k, ts) =>
      val m = if (ts.isEmpty) -1L else ms(median(ts))
      s""""${esc(k.takeWhile(_ != '_'))}":$m"""
    }.mkString("{", ",", "}")
    val dmin = results.map { case (_, ts) =>
      if (ts.isEmpty) 0L else ms(median(ts)) - ms(ts.min)
    }.mkString("[", ",", "]")
    val spread = results.map { case (_, ts) =>
      if (ts.isEmpty) 0L else ms(ts.max) - ms(ts.min)
    }.mkString("[", ",", "]")
    val sf = "sf([0-9]+(?:\\.[0-9]+)?)$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse(s""""${esc(sfDir)}"""")
    // canary rides in the always-fitting head: 4 integer-ms values
    // (single_start, par_start, single_end, par_end) — ~30 chars that
    // make cross-round comparability checkable from the tail alone
    val can = if (canary.size != 4) ""
      else s""""can":[${canary.map(ms).mkString(",")}],"""
    // spread-gate summary (~20 chars, only when the gate fired): rt =
    // total extra shots across the run, cont = queries whose best
    // window still exceeds the gate. Names + discarded shots live in
    // bench_result.json; a cont>0 line says "this session was noisy"
    // from the tail alone. Omitted when zero so quiet-host lines stay
    // byte-identical to the pre-gate format.
    val rt =
      if (retries.isEmpty) ""
      else {
        // contq NAMES the still-gated cells (bare keys, usually 0-2):
        // a gate reading the driver artifact must never take a
        // loaded-host median at face value — with the marker ON the
        // cell, "q187 regressed 2x" and "q187 was measured under
        // contention" are distinguishable from the tail alone
        // (VERDICT r18 wrong-1; BenchDiff reads the same flag from
        // bench_result.json's per-query records)
        // capped at 12 names: the realistic case is 1-3; a session
        // with dozens is globally junk and the `cont` COUNT already
        // says so — an unbounded list would blow the head's budget
        val contq = retries.toSeq.filter(_._2.contended).map(_._1).sorted
          .take(12)
          .map(k => s""""${esc(k.takeWhile(_ != '_').stripPrefix("q"))}"""")
        s""""rt":${retries.valuesIterator.map(_.extra).sum},""" +
          s""""cont":${retries.valuesIterator.count(_.contended)},""" +
          (if (contq.isEmpty) ""
           else s""""contq":[${contq.mkString(",")}],""")
      }
    // enc must describe what THIS line actually carries — when the
    // ladder drops dmin (or spread) for the tail budget, a fixed enc
    // string would claim fields that aren't there
    def headQ(enc: String, q: String) =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec",""" +
        s""""runs":$runs,"setup":${fmt3(setupSec)},$can$rt""" +
        s""""enc":"$enc",""" +
        s""""queries":$q,"errors":$nErrors,"sf":$sf"""
    def head(enc: String) = headQ(enc, qs)
    // r14 rung: medians in integer CENTISECONDS — the driver grades
    // coarse wall-clock and BenchDiff reads bench_result.json (full ms
    // fidelity), so the lost digit costs nothing the tail consumer acts
    // on, and one digit per entry buys the spreadx envelope back once
    // the ms map alone crowds the tail (~145 queries)
    val qsCs = results.map { case (k, ts) =>
      val m = if (ts.isEmpty) -1L else Math.round(median(ts) * 100)
      s""""${esc(k.takeWhile(_ != '_'))}":$m"""
    }.mkString("{", ",", "}")
    // sparse spread rung: only queries whose spread exceeds the jitter
    // floor (SpreadFloorSec) carry an entry — below the floor a spread
    // is scheduler noise, not signal (the gate itself never fires on
    // it), so dropping it loses nothing BenchDiff acts on. BenchDiff
    // reconstructs absent entries AT the floor (not zero), keeping the
    // envelope conservative. This is what keeps the noise envelope in
    // the tail window once the positional array outgrows the budget
    // (~115 queries): typical sessions have ~10-20 above-floor spreads.
    val floorMs = Math.round(SpreadFloorSec * 1000)
    // above-floor spreads, noisiest first (name tiebreak): the order the
    // top-N rung truncates in — dropping the SMALLEST noisy entries
    // loses the least envelope (BenchDiff reconstructs absentees at the
    // floor, so truncation only understates spreads that were barely
    // above it)
    val spreadEntries = results.collect {
      case (k, ts) if ts.nonEmpty && ms(ts.max) - ms(ts.min) > floorMs =>
        (ms(ts.max) - ms(ts.min), esc(k.takeWhile(_ != '_')))
    }.sortBy { case (s, k) => (-s, k) }
    def spreadxOf(es: Seq[(Long, String)]) =
      es.map { case (s, k) => s""""$k":$s""" }.mkString("{", ",", "}")
    val spreadx = spreadxOf(spreadEntries)
    val full = s"""${head("q:median ms;dmin:med-min;spread:max-min ms, q-order")},"dmin":$dmin,"spread":$spread}"""
    if (full.length <= maxLen) full
    else {
      val noDmin =
        s"""${head("q:median ms;spread:max-min ms, q-order")},"spread":$spread}"""
      if (noDmin.length <= maxLen) noDmin
      else {
        val sparse =
          s"""${head(s"q:median ms;spreadx:max-min ms only >${floorMs}ms")},"spreadx":$spreadx}"""
        if (sparse.length <= maxLen) sparse
        else {
          // top-N rung (r13, ~130 queries): keep the LARGEST above-floor
          // spreads that fit — the envelope BenchDiff acts on survives
          // for the queries where it matters most, truncation documented
          // in enc as topN
          def topLine(n: Int) = {
            val es = spreadEntries.take(n)
            s"""${head(s"q:median ms;spreadx:top${es.size} max-min ms only >${floorMs}ms")},"spreadx":${spreadxOf(es)}}"""
          }
          val n = (spreadEntries.size to 0 by -1)
            .find(n => topLine(n).length <= maxLen)
          n.filter(_ > 0).map(topLine).getOrElse {
            // centisecond rung (r14, ~145+ queries): when even ONE ms
            // spreadx entry no longer fits beside the ms medians, shed
            // a digit per median instead of shedding the envelope
            def topLineCs(n: Int) = {
              val es = spreadEntries.take(n)
              s"""${headQ(s"q:median cs;spreadx:top${es.size} max-min ms only >${floorMs}ms", qsCs)},"spreadx":${spreadxOf(es)}}"""
            }
            val nCs = (spreadEntries.size to 0 by -1)
              .find(n => topLineCs(n).length <= maxLen)
            nCs.filter(_ > 0).map(topLineCs).getOrElse {
              // bare-key rung (r15, ~158 queries): every key starts
              // with the same 'q', so the prefix carries zero
              // information — shed it (enc documents the decode:
              // prepend 'q') before shedding the noise envelope. 158
              // keys buy ~160 chars ≈ a dozen spreadx entries.
              def bare(s: String) = {
                val k = s.takeWhile(_ != '_').stripPrefix("q")
                esc(if (k.isEmpty) "q" else k)
              }
              val qsCsBare = results.map { case (k, ts) =>
                val m =
                  if (ts.isEmpty) -1L else Math.round(median(ts) * 100)
                s""""${bare(k)}":$m"""
              }.mkString("{", ",", "}")
              val spreadBare = spreadEntries.map { case (s, k) =>
                (s, esc(k.stripPrefix("q")))
              }
              def topLineBare(n: Int) = {
                val es = spreadBare.take(n)
                s"""${headQ(s"q:median cs keys sans q;spreadx:top${es.size} max-min ms only >${floorMs}ms", qsCsBare)},"spreadx":${spreadxOf(es)}}"""
              }
              val nB = (spreadBare.size to 0 by -1)
                .find(n => topLineBare(n).length <= maxLen)
              nB.filter(_ > 0).map(topLineBare).getOrElse {
                // positional rung (r16, ~180 queries): with cs values
                // at 2-4 digits the KEYS are now the budget hog —
                // shed them entirely: "queries" becomes the cs-median
                // ARRAY in SORTED query-name order (the decode key:
                // the artifact is committed beside the repo whose
                // query list names the positions), buying ~6 chars per
                // query back for the envelope. spreadx keys stay named
                // (bare) — a sparse map can't go positional.
                val qvArr = results.sortBy(_._1).map { case (_, ts) =>
                  if (ts.isEmpty) -1L else Math.round(median(ts) * 100)
                }.mkString("[", ",", "]")
                def topLinePos(n: Int) = {
                  val es = spreadBare.take(n)
                  s"""${headQ(s"q:median cs array sorted by name;spreadx:top${es.size} max-min ms only >${floorMs}ms keys sans q", qvArr)},"spreadx":${spreadxOf(es)}}"""
                }
                val nP = (spreadBare.size to 0 by -1)
                  .find(n => topLinePos(n).length <= maxLen)
                // terminal rung: positional cs medians, no envelope
                nP.filter(_ > 0).map(topLinePos).getOrElse(
                  s"${headQ("q:median cs array sorted by name", qvArr)}}")
              }
            }
          }
        }
      }
    }
  }
}
