#!/usr/bin/env python3
"""Benchmark of the paper's CSV-to-answer API and of a fixed slice of the
query registry. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), makes the inputs from
the seed, runs one client in a closed loop on one Spark session
(perfbench/src/PerfBench.scala), checks every answer against DuckDB
(perfbench/oracle.py) and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(perfbench/README.md lists both). Everything it writes goes under
.bench_build/ at the root of the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import build  # noqa: E402
import fixture  # noqa: E402
import oracle  # noqa: E402

# The registry slice (names from SparkEntry.queries). floor: sub-second
# queries of the base, rel and llm entries, where the fixed cost of each
# Spark action dominates. heavy: a lakehouse query (manifested table,
# row-level delete, fences); the heaviest cells of the full bench take
# 7-9 s a shot here and would not fit three shots in a run.
FLOOR = ["q01_hourly_count", "q05_filter_bbox", "q10_proj_star",   # base
         "q64_date_math",                                          # rel
         "q41_media_meta"]                                         # llm
HEAVY = ["q177_delete_where"]

# jit: rounds (api) or passes (registry) of the timed work, run in a session
# of its own before set-up, so that class loading and the JIT's first
# compilations stay out of what is measured.
WORKLOADS = {
    "api_live": dict(mode="api", jit="1", min_rounds="3"),
    "registry": dict(mode="registry", floor=",".join(FLOOR),
                     heavy=",".join(HEAVY), warmup="q01_hourly_count", jit="2",
                     min_passes="3"),
}
SETUPS = 3          # set-up is repeated; setup_s is the median
# Spark task slots. A call reads one or two files (one task each) and
# shuffles into as many partitions as slots, so two slots lose little, and
# leave the other cores to the JIT and GC threads, which otherwise compete
# with the tasks for several rounds after start.
CORES = 2
DEADLINE_S = 170    # the whole run, build excluded

END_TO_END = ["setup_s", "light_cpu_ms", "heavy_cpu_ms"]
# wall-clock counterparts, printed to stderr: on a VM whose host takes a
# varying share of the CPU they spread too widely between runs to bound
WALL = ["setup_wall_s", "light_ms", "heavy_ms", "ops_per_s"]
UNITS = {"setup_s": "s", "core.retained_heap_mb": "MB"}
API_LAYERS = [
    "core.jvm_warmup_ms", "core.session_ms", "core.retained_heap_mb", "pipelines.warmup_ms",
    "sources.read_speed_ms", "sources.read_fee_ms", "sources.read_accidents_ms",
    "sources.read_base_ms", "sources.rows_read", "operators.site_join_ms",
    "pipelines.accident_ms", "pipelines.overspeed_ms", "pipelines.avgspeed_ms",
    "pipelines.accident_self_ms", "pipelines.overspeed_self_ms",
    "pipelines.avgspeed_self_ms", "pipelines.after_arrival_ms"]
GROUP_LAYERS = [f"{kind}.{g}.{m}" for g in ("floor", "heavy")
                for kind, m in (("entries", "build_ms"), ("plans", "plan_ms"),
                                ("entries", "run_ms"), ("entries", "jobs"))]
PER_LAYER = API_LAYERS + GROUP_LAYERS + [f"entries.{q}_ms" for q in FLOOR + HEAVY]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def find_sf_dir():
    """Parquet testdata for the registry: $SPARK_GRAFT_SF_DIR, as for
    graft.Bench, else ~/testdata/sf0.1; None if it is not there."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    return d if os.path.exists(os.path.join(d, "lineitem.parquet")) else None


def jvm_cmd(cp, tmp, archive):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2 ** 20
    heap_gb = max(2, min(4, int(total_gb / 2)))
    cmd = ["java", f"-Xmx{heap_gb}g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"] + archive
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.PerfBench"]


def run_jvm(cp, run_dir, conf, deadline, archive):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = [f"{k}={v}" for k, v in conf.items()]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(jvm_cmd(cp, tmp, archive) + args, stdout=lf, stderr=lf,
                             cwd=run_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the run passed its deadline")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"the benchmark JVM exited with {rc}")
    with open(conf["out"]) as f:
        return json.load(f)


def class_archive(build_dir, workload):
    """(JVM options, archive to write) for the JVM's class-data archive of
    this build and workload. The first run of a workload in a build writes
    it as its JVM exits; later runs map it, which saves about half of the
    cold session start and first query (7-10 s a run; README). -Xshare:on
    makes a run whose archive cannot be used fail instead of running
    without it."""
    jsa = os.path.join(build_dir, f"{workload}.jsa")
    if os.path.exists(jsa):
        return ["-Xshare:on", f"-XX:SharedArchiveFile={jsa}"], None
    return [f"-XX:ArchiveClassesAtExit={jsa}.tmp"], jsa


def read_spans(path):
    spans, counts = [], []
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            (spans if "name" in r else counts).append(r)
    return spans, counts


def dur(s):
    return (s["end"] - s["start"]) / 1e6


# ---- metrics ------------------------------------------------------------------

def api_metrics(res, trace_path):
    """(metrics, attempted, failed) of an api run."""
    calls = res["calls"]
    timed = [c for c in calls if c["phase"] == "timed"]
    ok = [c for c in timed if c["error"] is None]
    by = lambda k, m: median([c[m] for c in ok if c["kind"] == k])
    e2e = {
        "setup_s": median(res["setup_s"]),
        "light_cpu_ms": by("accident", "cpu_ms"),
        "heavy_cpu_ms": by("overspeed", "cpu_ms") + by("avgspeed", "cpu_ms"),
        "setup_wall_s": median(res["setup_wall_s"]),
        "light_ms": by("accident", "ms"),
        "heavy_ms": by("overspeed", "ms") + by("avgspeed", "ms"),
        "ops_per_s": len(ok) / res["timed_wall_s"],
    }
    failed = len(timed) - len(ok)
    if trace_path is None:
        return e2e, len(timed), failed
    spans, counts = read_spans(trace_path)
    named = lambda n: [dur(s) for s in spans if s["name"] == n]
    layer = {k: 0.0 for k in PER_LAYER}
    layer["core.jvm_warmup_ms"] = res["jvm_warmup_s"] * 1000
    layer["core.retained_heap_mb"] = res["retained_heap_mb"]
    layer["core.session_ms"] = median(named("core.session"))
    layer["pipelines.warmup_ms"] = median(named("pipelines.warmup"))
    for n in ("read_speed", "read_fee", "read_accidents", "read_base"):
        layer[f"sources.{n}_ms"] = median(named(f"sources.{n}"))
    layer["operators.site_join_ms"] = median(named("operators.site_join"))
    reads = {}
    for s in spans:
        if s["name"].startswith("sources."):
            reads[s["call"]] = reads.get(s["call"], 0.0) + dur(s)
    first_timed = calls.index(timed[0])
    rows = {}  # per round of three calls
    for c in counts:
        if c["count"] == "sources.rows_read":
            r = (c["call"] - first_timed) // 3
            rows[r] = rows.get(r, 0) + c["value"]
    layer["sources.rows_read"] = median(list(rows.values()))
    for kind in ("accident", "overspeed", "avgspeed"):
        mine = [s for s in spans if s["name"] == f"pipelines.{kind}"
                and s["call"] >= first_timed]
        layer[f"pipelines.{kind}_ms"] = median([dur(s) for s in mine])
        layer[f"pipelines.{kind}_self_ms"] = median(
            [dur(s) - reads.get(s["call"], 0.0) for s in mine])
    after = [c["ms"] for i, c in enumerate(calls)
             if i > 0 and c["phase"] == "timed" and c["epoch"] != calls[i - 1]["epoch"]]
    layer["pipelines.after_arrival_ms"] = median(after)
    return layer, len(timed), failed


def registry_metrics(res, trace_path):
    """(metrics, attempted, failed) of a registry run."""
    shots = res["shots"]
    groups = res["groups"]
    med = {q: median(ts) for q, ts in shots.items()}
    cpu = {q: median(ts) for q, ts in res["shot_cpu"].items()}
    e2e = {
        "setup_s": median(res["setup_s"]),
        "light_cpu_ms": sum(cpu[q] for q in groups["floor"]),
        "heavy_cpu_ms": sum(cpu[q] for q in groups["heavy"]),
        "setup_wall_s": median(res["setup_wall_s"]),
        "light_ms": sum(med[q] for q in groups["floor"]),
        "heavy_ms": sum(med[q] for q in groups["heavy"]),
        "ops_per_s": sum(len(ts) for ts in shots.values()) / res["timed_wall_s"],
    }
    failed = sum(res["failed"].values())
    attempted = sum(len(ts) for ts in shots.values()) + failed
    if trace_path is None:
        return e2e, attempted, failed
    spans, counts = read_spans(trace_path)
    layer = {k: 0.0 for k in PER_LAYER}
    layer["core.jvm_warmup_ms"] = res["jvm_warmup_s"] * 1000
    layer["core.retained_heap_mb"] = res["retained_heap_mb"]
    layer["core.session_ms"] = median([dur(s) for s in spans if s["name"] == "core.session"])
    layer["pipelines.warmup_ms"] = median(
        [dur(s) for s in spans if s["name"] == "pipelines.warmup"])
    for g in ("floor", "heavy"):
        for span, metric in ((f"entries.{g}.build", f"entries.{g}.build_ms"),
                             (f"plans.{g}.plan", f"plans.{g}.plan_ms"),
                             (f"entries.{g}.run", f"entries.{g}.run_ms")):
            per_pass = {}
            for s in spans:
                if s["name"] == span:
                    per_pass[s["call"]] = per_pass.get(s["call"], 0.0) + dur(s)
            layer[metric] = median(list(per_pass.values()))
        jobs = {}
        for c in counts:
            if c["count"] == f"entries.{g}.jobs":
                jobs[c["call"]] = jobs.get(c["call"], 0) + c["value"]
        layer[f"entries.{g}.jobs"] = median(list(jobs.values()))
    for q in med:
        layer[f"entries.{q}_ms"] = median(
            [dur(s) for s in spans if s["name"] == f"entries.{q}"])
    return layer, attempted, failed


def unit(name):
    if name.endswith(("jobs", "rows_read")):
        return "count"
    return UNITS.get(name, "ms")


def result_line(metrics, trace, attempted, failed, wrong):
    """The last line of stdout. `failed` counts timed operations that threw,
    `wrong` answers the oracle disagreed with."""
    names = PER_LAYER if trace else END_TO_END
    return json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                       "metrics": {n: {"value": metrics[n], "unit": unit(n)}
                                   for n in names}})


# ---- main ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a checkout of the program")
    cores = min(CORES, len(os.sched_getaffinity(0)))
    try:
        build_dir, cp = build.build()
    except SystemExit as e:
        fail(f"build failed: {e}")
    archive, new_archive = class_archive(build_dir, a.workload)
    start = time.time()
    deadline = start + DEADLINE_S

    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    trace_path = os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    conf = dict(mode=w["mode"], seconds=a.seconds, trace=a.trace,
                cores=cores, setups=SETUPS,
                local=os.path.join(run_dir, "local"),
                out=os.path.join(run_dir, "result.json"), spans=trace_path)
    conf.update({k: v for k, v in w.items() if k != "mode"})
    phases = {}

    def phase(name, t0):
        phases[name] = round(time.time() - t0, 1)
        return time.time()

    try:
        t = time.time()
        oracle.self_check(run_dir)
        if w["mode"] == "api":
            work = os.path.join(run_dir, "fixture")
            fixture.generate(work, a.seed)
            conf["work"] = work
            t = phase("fixture", t)
            res = run_jvm(cp, run_dir, conf, deadline, archive)
            t = phase("jvm", t)
            phases["jit"] = round(res["jvm_warmup_s"], 1)
            phases["setups"] = [round(x, 1) for x in res["setup_wall_s"]]
            phases["timed"] = round(res["timed_wall_s"], 1)
            bad, sizes = oracle.check_calls(os.path.join(work, "data"), run_dir, res["calls"])
            t = phase("oracle", t)
            sys.stderr.write(f"perfbench: inputs at the end of the run: {sizes}\n")
            metrics, attempted, failed = api_metrics(res, trace_path if a.trace else None)
        else:
            conf["sf"] = find_sf_dir() or fail("no sf0.1 testdata (set SPARK_GRAFT_SF_DIR)")
            conf["check"] = os.path.join(run_dir, "check")
            res = run_jvm(cp, run_dir, conf, deadline, archive)
            t = phase("jvm", t)
            phases["jit"] = round(res["jvm_warmup_s"], 1)
            phases["setups"] = [round(x, 1) for x in res["setup_wall_s"]]
            phases["timed"] = round(res["timed_wall_s"], 1)
            with open(os.path.join(conf["check"], "oracle_sql.json")) as f:
                sql = json.load(f)
            missing = [q for q, s in sql.items() if s is None]
            if missing:
                fail(f"no oracleSql for {missing}")
            checked = {q: s for q, s in sql.items() if q not in res["unchecked"]}
            bad = len(res["unchecked"]) + len(oracle.check_registry(conf["check"], conf["sf"],
                                                                     checked))
            t = phase("oracle", t)
            metrics, attempted, failed = registry_metrics(res, trace_path if a.trace else None)
        if new_archive:
            if not os.path.exists(new_archive + ".tmp"):
                fail("the JVM wrote no class-data archive")
            os.replace(new_archive + ".tmp", new_archive)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    sys.stderr.write(f"perfbench: {a.workload} seed {a.seed}: seconds per phase {phases}\n")
    if not a.trace:
        sys.stderr.write("perfbench: wall clock " + json.dumps({n: metrics[n] for n in WALL}) + "\n")
    line = result_line(metrics, a.trace, attempted, failed, bad)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
