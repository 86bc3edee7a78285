package graft

/** Guards the driver-facing bench line. The driver stores only the LAST
  * 2000 characters of stdout (BENCH_r0{1,2,3}.json each carry a "tail"
  * of exactly 2000 chars, cut mid-line) and parses the bench JSON out of
  * that window — so the final printed line must fit the window whole,
  * with headroom for sbt's trailing `[success] Total time: ...` line
  * (~70 chars). The full-precision record lives in `bench_result.json`;
  * only the compact line faces the tail budget.
  */
class BenchEncodeSpec extends SparkTestBase {

  private def fakeResults(n: Int, runs: Seq[Double] = Seq(12.301, 12.355, 12.498))
      : Seq[(String, Seq[Double])] =
    (1 to n).map(i => (f"q$i%02d_some_descriptive_query_name", runs))

  test("median: odd picks middle, even averages, order-independent") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }

  test("compact line fits the 2000-char tail window at 120 queries") {
    val line = Bench.compactJson(fakeResults(120), nErrors = 0,
      total = 1234.5678, sfDir = "/root/testdata/sf0.1", runs = 3,
      setupSec = 0.85)
    assert(line.length <= 1800, s"compact bench line too long: ${line.length}")
    assert(!line.contains('\n'))
    // degradation must keep the medians and (if anything beyond them
    // fits) the spread — dmin is the first casualty
    assert(line.contains(""""queries":{"""))
  }

  test("compact line carries the canary in integer ms and stays in budget") {
    val can = Seq(0.219, 0.442, 0.167, 0.325)
    val line = Bench.compactJson(fakeResults(120), nErrors = 0,
      total = 1234.5678, sfDir = "/root/testdata/sf0.1", runs = 3,
      setupSec = 0.85, canary = can)
    assert(line.length <= 1800, s"compact bench line too long: ${line.length}")
    assert(line.contains(""""can":[219,442,167,325],"""))
    // and the full-precision twin names the arrays
    val full = Bench.fullJson(fakeResults(2), Nil, 1.0, "/x", 3, 0.1, can)
    assert(full.contains(""""canary":{"single_s":[0.219,0.167],"par_s":[0.442,0.325]}"""))
  }

  test("compact line for the CURRENT query set degrades as designed") {
    // two distinct shot profiles: a quiet one (47 ms spread, below the
    // 100 ms jitter floor) and a noisy one (700 ms spread)
    val names = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .map { case (n, i) =>
        (n, if (i % 7 == 0) Seq(3.141, 3.402, 3.841)
            else Seq(3.141, 3.102, 3.149))
      }
    val line = Bench.compactJson(names, nErrors = 2, total = 99.999,
      sfDir = "/root/testdata/sf0.1", runs = 3, setupSec = 0.85)
    // 1800 is the real contract: the driver's 2000-char tail minus
    // sbt's trailer — ~80 chars of `[success] Total time ...` on a clean
    // run, ~150 chars of `[error] Nonzero exit code ...` now that main()
    // exits 1 when any query errors. At 103 queries the full
    // median+dmin+spread triple outgrew it (r10); at 118 the positional
    // spread array does too, so the ladder's next rung is the SPARSE
    // spreadx object — medians plus the above-floor noise envelope
    // (what BenchDiff acts on) survive, full fidelity stays in
    // bench_result.json.
    assert(line.length <= 1800, s"compact bench line too long: ${line.length}")
    // named-map rungs carry "queries":{...}; the r16 positional rung
    // (~180 queries: the keys themselves became the budget hog) carries
    // the cs-median ARRAY in sorted-name order instead
    assert(line.contains(""""queries":{""") ||
      line.contains(""""queries":["""), line.takeRight(200))
    // at ~130 queries the full sparse object itself outgrows the tail
    // (topN rung); at ~145 the ms medians alone crowd out even one
    // spreadx entry, so medians shed a digit (centiseconds, r14) to buy
    // the envelope back — in EVERY rung the noise envelope survives
    // for the queries where BenchDiff needs it most
    assert(line.contains(""""spreadx":{"""), line.takeRight(400))
    // noisy queries (spread 700 ms) carry entries; quiet ones don't
    // (keys read "q01" on the named rungs, "01" on the bare-key rung)
    assert(line.contains(""""q01":700""") || line.contains(""""01":700"""),
      line.takeRight(400)) // spreadx keys stay named on every rung
    assert(!line.contains(""""q02":4""") && !line.contains(""""02":4,"""),
      "below-floor spread leaked")
    // enc must describe the degraded line, not the full triple
    assert(line.contains(""""enc":"q:median ms;spreadx:top""") ||
      line.contains(""""enc":"q:median cs;spreadx:top""") ||
      line.contains(""""enc":"q:median cs keys sans q;spreadx:top""") ||
      line.contains(""""enc":"q:median cs array sorted by name;spreadx:top""") ||
      line.contains(""""enc":"q:median ms;spreadx:max-min ms only >100ms""""),
      line.take(300))
    // the cs rung really is centiseconds: the quiet medians (3141 ms)
    // read 314 when enc says cs
    if (line.contains(""""enc":"q:median cs;""") ||
        line.contains(""""enc":"q:median cs keys"""))
      assert(line.contains(""""q02":314""") || line.contains(""""02":314"""),
        line.take(400))
    // the positional rung really is centiseconds in sorted order: the
    // quiet medians (3141 ms) read 314 somewhere in the array
    if (line.contains("cs array sorted by name"))
      assert(line.contains(""",314,"""), line.take(400))
    assert(!line.contains("dmin"), "dropped field must vanish from enc too")
    val full = Bench.fullJson(names.take(2), Nil, 1.0, "/x", 3, 0.1, Nil)
    assert(full.contains(""""min":"""), "per-run fidelity must stay in bench_result.json")
  }

  test("the line printed last is the compact one, whole in the tail at 207 cells") {
    // medians spread log-uniformly over 0.08-5.3 s, the range of the
    // sf0.1 bench cells, three shots each within ±15% of the median
    val rnd = new scala.util.Random(22)
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size === 207)
    val results = names.map { n =>
      val m = 0.08 * math.pow(5.3 / 0.08, rnd.nextDouble())
      n -> Seq.fill(3)(m * (0.85 + 0.3 * rnd.nextDouble()))
    }
    val full = Bench.fullJson(results, Nil, results.map(r =>
      Bench.median(r._2)).sum, "/data/sf0.1", 3, 0.85)
    val compact = Bench.compactJson(results, 0, 1.0, "/data/sf0.1",
      3, 0.85, canary = Seq(0.219, 0.442, 0.167, 0.325))
    val file = tempDir("graft-bench-report").resolve("bench_result.json")
    val buf = new java.io.ByteArrayOutputStream()
    Bench.report(new java.io.PrintStream(buf, true, "UTF-8"), file, full, compact)
    val lines = buf.toString("UTF-8").split('\n').toSeq
    assert(lines.last === compact)
    assert(lines.last.length <= 1800, s"last line too long: ${lines.last.length}")
    assert(lines.last.contains(""""queries":"""))
    assert(full.length > 2000 && lines.contains(full))
    assert(java.nio.file.Files.readString(file) === full + "\n")
  }

  test("compact line is valid JSON shape with the contract keys") {
    val line = Bench.compactJson(
      Seq(("q01_agg", Seq(0.5, 0.6, 0.4)), ("q02_x", Nil)),
      nErrors = 1, total = 0.5, sfDir = "/root/testdata/sf0.01", runs = 3,
      setupSec = 0.2)
    assert(line.startsWith("""{"metric":"total","value":0.500,"unit":"sec","runs":3,"setup":0.200,"""))
    // median of (0.4,0.5,0.6) = 0.5 → 500 ms; failed query = -1
    assert(line.contains(""""queries":{"q01":500,"q02":-1}"""), line)
    // dmin = 500-400 = 100 ms (0 for the failed query); spread = 200 ms
    assert(line.contains(""""dmin":[100,0]"""), line)
    assert(line.contains(""""spread":[200,0]"""), line)
  }

  test("sf token is always valid JSON, even for odd directory names") {
    // "sf0.1." used to emit the bare token `0.1.` — invalid JSON
    def compact(dir: String) =
      Bench.compactJson(Nil, 0, 0.0, dir, runs = 3, setupSec = 0.0)
    for (dir <- Seq("/data/sf0.1.", "/data/sfX", "/data/sf.5", "/data/"))
      assert(compact(dir).contains(s""""sf":"${dir.replace("\\", "\\\\")}""""),
        s"non-numeric sf dir must fall back to a quoted string: $dir")
    assert(compact("/data/sf0.1").contains(""""sf":0.1"""))
    assert(compact("/data/sf1").contains(""""sf":1"""))
  }

  test("qNN prefixes stay unique after truncation (driver keys by them)") {
    val keys = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    assert(keys.size === SparkEntry.queries.size,
      "two query names share a qNN prefix — compact line would collide")
  }

  test("locale-pinned formatting never emits a comma decimal separator") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.fmt3(1.5) === "1.500")
    } finally java.util.Locale.setDefault(prev)
  }

  test("tightestWindow picks the minimum-spread k-window, fastest on tie") {
    // one contention outlier among 4 shots: the window routes around it
    assert(Bench.tightestWindow(Seq(1.0, 1.1, 6.3, 1.05), 3) ===
      Seq(1.0, 1.05, 1.1))
    // tie on spread → the faster window wins (contention only adds time)
    assert(Bench.tightestWindow(Seq(1.0, 2.0, 3.0, 4.0), 2) === Seq(1.0, 2.0))
    // k >= n returns everything
    assert(Bench.tightestWindow(Seq(2.0, 1.0), 5) === Seq(1.0, 2.0))
  }

  test("spread gate fires above 50% of median, never on a single shot") {
    assert(Bench.gated(Seq(1.0, 1.1, 1.7)))        // spread 0.7 > 0.55
    assert(!Bench.gated(Seq(1.0, 1.1, 1.2)))       // spread 0.2 < 0.55
    assert(!Bench.gated(Seq(9.9)))                 // runs=1: no envelope
    // absolute floor: a 60 ms envelope on a 100 ms query is jitter,
    // not contention — must not burn retry shots
    assert(!Bench.gated(Seq(0.10, 0.12, 0.16)))
  }

  test("spread gate tightens to 12% above a 2 s median (r13 heavy tier)") {
    // the r12 q108/q111 shape: ~0.7 s spread on a ~5 s median sat under
    // the 50% gate yet dominated residual bench noise — the heavy tier
    // gates it now (0.7 > 0.12 * 5.1)
    assert(Bench.gated(Seq(5.0, 5.1, 5.7)))
    // a quiet heavy query stays ungated (0.5 s < 0.612)
    assert(!Bench.gated(Seq(5.0, 5.1, 5.5)))
    // just under the heavy boundary keeps the base gate (spread 0.7
    // on median 1.9: 0.7 < 0.95 → quiet)
    assert(!Bench.gated(Seq(1.6, 1.9, 2.3)))
  }

  test("contended: a discarded shot far below the kept window flags it") {
    // q17's shape: the tightest 3-window is 0.88-1.02 s (ungated), while
    // the two discarded shots measured 0.16 s
    val shots = Seq(0.16, 0.16, 0.88, 0.94, 1.02)
    val window = Bench.tightestWindow(shots, 3)
    assert(window === Seq(0.88, 0.94, 1.02) && !Bench.gated(window))
    assert(Bench.contended(window, shots.diff(window)))
    // slower discarded shots, or faster ones within the gate, do not
    assert(!Bench.contended(window, Seq(2.5, 3.0)))
    assert(!Bench.contended(window, Seq(0.8)))
    // a gated window stays contended with nothing discarded
    assert(Bench.contended(Seq(1.0, 1.1, 1.7), Nil))
  }

  test("retry record rides bench_result.json; quiet lines are unchanged") {
    val retries = Map("q01_agg" ->
      Bench.Retry(extra = 1, discarded = Seq(6.3), contended = false))
    val full = Bench.fullJson(Seq(("q01_agg", Seq(0.5, 0.6, 0.4))),
      Nil, 0.5, "/x", runs = 3, setupSec = 0.2, canary = Nil,
      retries = retries)
    assert(full.contains(""""retries":1,"discarded":[6.3],"contended":false"""),
      full)
    val compact = Bench.compactJson(Seq(("q01_agg", Seq(0.5, 0.6, 0.4))),
      nErrors = 0, total = 0.5, sfDir = "/x", runs = 3, setupSec = 0.2,
      canary = Nil, retries = Map("q01_agg" ->
        Bench.Retry(2, Seq(6.3, 7.1), contended = true)))
    assert(compact.contains(""""rt":2,"cont":1,"""), compact)
    // the still-gated cell is NAMED in the tail (bare key): a gate
    // reading the driver artifact can tell "regressed" from "measured
    // under contention" per cell
    assert(compact.contains(""""contq":["01"],"""), compact)
    // no retries → both artifacts byte-identical to the pre-gate format
    val quiet = Bench.compactJson(Seq(("q01_agg", Seq(0.5, 0.6, 0.4))),
      nErrors = 0, total = 0.5, sfDir = "/x", runs = 3, setupSec = 0.2)
    assert(!quiet.contains("\"rt\"") && !quiet.contains("\"cont\""))
  }

  test("compact line stays in budget with the gate summary at 120 queries") {
    val retries = (1 to 120).map(i =>
      f"q$i%02d_some_descriptive_query_name" ->
        Bench.Retry(2, Seq(9.9, 9.8), contended = true)).toMap
    val line = Bench.compactJson(fakeResults(120), nErrors = 0,
      total = 1234.5678, sfDir = "/root/testdata/sf0.1", runs = 3,
      setupSec = 0.85, canary = Seq(0.219, 0.442, 0.167, 0.325),
      retries = retries)
    assert(line.length <= 1800, s"compact bench line too long: ${line.length}")
    assert(line.contains(""""rt":240,"cont":120,"""))
    // contq caps at 12 names — a session with 120 gated cells is
    // globally junk and the count already says so
    assert("\"contq\":\\[([^\\]]*)\\]".r.findFirstMatchIn(line)
      .exists(_.group(1).split(',').length == 12), line)
  }

  test("full json carries every raw run per query") {
    val line = Bench.fullJson(Seq(("q01_agg", Seq(0.5, 0.6, 0.4))),
      Nil, 0.5, "/data/sf0.1", runs = 3, setupSec = 0.2)
    assert(line.contains(""""q01_agg":{"median":0.5,"min":0.4,"max":0.6,"runs":[0.5,0.6,0.4]}"""), line)
    assert(line.contains(""""stream_setup_s":0.2"""), line)
  }

  test("ExplainAudit.nodeCounts: node names only, codegen stars and headers stripped") {
    val plan =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- == Initial Plan ==
        |   Sort [a#1 ASC], true
        |   +- Exchange rangepartitioning(a#1 ASC, 32)
        |      +- *(2) HashAggregate(keys=[a#1], functions=[count(1)])
        |         +- Exchange hashpartitioning(a#1, 32)
        |            +- *(1) HashAggregate(keys=[a#1], functions=[partial_count(1)])
        |               :- BroadcastHashJoin [a#1], [b#2], Inner
        |               +- FileScan parquet [a#1]""".stripMargin
    val counts = ExplainAudit.nodeCounts(plan)
    assert(counts === Map("AdaptiveSparkPlan" -> 1, "Sort" -> 1,
      "Exchange" -> 2, "HashAggregate" -> 2, "BroadcastHashJoin" -> 1,
      "FileScan" -> 1), counts.toString)
  }
}
