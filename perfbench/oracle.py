#!/usr/bin/env python3
"""Answers computed apart from the program, in DuckDB, from the same files.

API calls follow the reference's semantics (FIXTURES.md section 1):
  - accidentCount: closed range [start, end + 1 day 00:00]; a CASEDATE that
    does not parse is kept at epoch 0; LON/LAT that do not parse read 0.0;
  - overSpeedCount: speed window [start, end + 1 day) half-open; only the
    month files of the months the window touches are read, toll trips too;
    car types 01-03 need CLSD > 120, 04 (big truck) CLSD > 100;
  - averageSpeed: trailing window [date - 30 days, date + 1 day), which holds
    the query date; time_point 1 is the query date alone, 0 the whole window.
Rows whose keys are empty, whose times do not parse or whose CLSD is not a
number are dropped, as the reference does.

Registry queries are compared with their oracleSql over the parquet tables,
as tools/check.py does.

    python3 perfbench/oracle.py --self-check   # FIXTURES section 1.5 answers
"""
import datetime as dt
import glob
import math
import os
import sys
import tempfile

import duckdb

TS = "%Y-%m-%d %H:%M:%S"


def _csv(paths, n, filename=False):
    cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(n))
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    return (f"read_csv({files}, header=false, delim=',', quote='\"', "
            f"escape='\"', auto_detect=false, columns={{{cols}}}"
            f"{', filename=true' if filename else ''})")


def _ts(c):
    return f"try_strptime({c}, '{TS}')"


def _month_of(path_col):
    # .../<YYYYMM>/<YYYYMM>CSYDATA.csv -> 'YYYYMM'
    return f"regexp_extract({path_col}, '([0-9]{{6}})[A-Z]+\\.csv$', 1)"


def months(start, end_incl):
    """Month dirs the reference's month loop reads for [start, end_incl]."""
    y, m = start.year, start.month
    out = []
    while (y, m) <= (end_incl.year, end_incl.month):
        out.append(f"{y:04d}{m:02d}")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


class ApiOracle:
    """The three paper queries over one data directory."""

    def __init__(self, data_dir, workdir):
        self.con = con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(f"""CREATE TABLE sites AS
            SELECT c2 AS site, TRY_CAST(c6 AS DOUBLE) AS lon, TRY_CAST(c7 AS DOUBLE) AS lat
            FROM {_csv([os.path.join(data_dir, 'speed_base.csv')], 8)}
            WHERE c6 IS NOT NULL AND c6 <> '' AND c7 IS NOT NULL AND c7 <> ''
              AND TRY_CAST(c6 AS DOUBLE) IS NOT NULL AND TRY_CAST(c7 AS DOUBLE) IS NOT NULL""")
        speed = sorted(glob.glob(os.path.join(data_dir, "*", "*CSYDATA.csv")))
        fee = sorted(glob.glob(os.path.join(data_dir, "*", "*SFZDATA.csv")))
        con.execute(f"""CREATE TABLE obs AS
            SELECT c0 AS site, c1 AS plate, {_ts('c2')} AS ts,
                   TRY_CAST(c3 AS BIGINT) AS clsd, {_month_of('filename')} AS m
            FROM {_csv(speed, 5, filename=True)}
            WHERE c0 IS NOT NULL AND c0 <> '' AND c1 IS NOT NULL AND c1 <> ''
              AND {_ts('c2')} IS NOT NULL AND TRY_CAST(c3 AS BIGINT) IS NOT NULL""")
        con.execute(f"""CREATE TABLE trips AS
            SELECT c5 AS plate, {_ts('c3')} AS en, {_ts('c1')} AS ex,
                   TRY_CAST(c4 AS BIGINT) AS cls, TRY_CAST(c7 AS BIGINT) AS truck,
                   {_month_of('filename')} AS m
            FROM {_csv(fee, 8, filename=True)}
            WHERE c5 IS NOT NULL AND c5 <> ''
              AND {_ts('c3')} IS NOT NULL AND {_ts('c1')} IS NOT NULL""")
        # JN2, exact: a point matches an interval only on a day the interval
        # covers, so joining on (plate, day) first loses no pair
        con.execute("""CREATE TABLE jn2 AS
            WITH tday AS (
              SELECT t.*, unnest(generate_series(CAST(en AS DATE), CAST(ex AS DATE),
                                                 INTERVAL 1 DAY)) AS d
              FROM trips t WHERE en <= ex)
            SELECT o.site, o.ts, o.clsd, t.cls, t.truck, o.m AS m_obs, t.m AS m_trip
            FROM obs o JOIN tday t
              ON o.plate = t.plate AND CAST(o.ts AS DATE) = CAST(t.d AS DATE)
             AND o.ts BETWEEN t.en AND t.ex""")
        # accidents, with their line number so a call sees only the rows
        # that were in the file when it ran
        acc = os.path.join(data_dir, "TF_ZFZD_CASESPECIFICATION.csv")
        with open(acc, "rb") as f:
            self.acc_text = f.read()
        numbered = os.path.join(workdir, "accidents_numbered.csv")
        with open(numbered, "wb") as f:
            for i, line in enumerate(self.acc_text.splitlines(keepends=True)):
                f.write(b'"%d",' % i + line)
        con.execute(f"""CREATE TABLE acc AS
            SELECT CAST(c0 AS BIGINT) AS ln,
                   coalesce({_ts('c4')}, TIMESTAMP '1970-01-01 00:00:00') AS ts,
                   coalesce(TRY_CAST(c12 AS DOUBLE), 0.0) AS lon,
                   coalesce(TRY_CAST(c13 AS DOUBLE), 0.0) AS lat
            FROM {_csv([numbered], 21)}""")

    def stats(self):
        """Sizes the README quotes: JN2 candidate pairs (same plate) and
        matches over the whole data directory."""
        q = lambda s: self.con.execute(s).fetchone()[0]
        return dict(
            obs=q("SELECT count(*) FROM obs"), trips=q("SELECT count(*) FROM trips"),
            jn2_candidates=q("""SELECT sum(a.n * b.n) FROM
                (SELECT plate, m, count(*) n FROM obs GROUP BY ALL) a JOIN
                (SELECT plate, m, count(*) n FROM trips GROUP BY ALL) b
                ON a.plate = b.plate AND a.m = b.m"""),
            jn2_matches=q("SELECT count(*) FROM jn2"))

    def accident(self, box, start, end, acc_bytes):
        n = self.acc_text[:acc_bytes].count(b"\n")
        hi = dt.date.fromisoformat(end) + dt.timedelta(days=1)
        rows = self.con.execute("""
            SELECT hour(ts), count(*) FROM acc
            WHERE ln < ? AND ts BETWEEN CAST(? AS TIMESTAMP) AND CAST(? AS TIMESTAMP)
              AND lon BETWEEN ? AND ? AND lat BETWEEN ? AND ?
            GROUP BY 1""", [n, start, hi.isoformat(), *box]).fetchall()
        return {(int(h),): int(c) for h, c in rows}

    def _classified(self, box, lo, hi_excl, thresholds):
        ms = months(lo, hi_excl - dt.timedelta(days=1))
        fast, slow = ((f"AND clsd > {t}" for t in thresholds) if thresholds
                      else ("", ""))
        return self.con.execute(f"""
            SELECT hour(j.ts) AS hr, CAST(j.ts AS DATE) AS day, j.clsd,
              CASE WHEN cls = 1 AND truck = 0 {fast} THEN '01'
                   WHEN cls > 1 AND truck = 0 {fast} THEN '02'
                   WHEN cls = 1 AND truck = 1 {fast} THEN '03'
                   WHEN cls > 1 AND truck = 1 {slow} THEN '04' END AS car
            FROM jn2 j JOIN sites s ON j.site = s.site
            WHERE s.lon BETWEEN ? AND ? AND s.lat BETWEEN ? AND ?
              AND j.m_obs IN (SELECT unnest(?)) AND j.m_trip IN (SELECT unnest(?))
              AND j.ts >= CAST(? AS TIMESTAMP) AND j.ts < CAST(? AS TIMESTAMP)""",
            [*box, ms, ms, lo.isoformat(), hi_excl.isoformat()]).fetchall()

    def overspeed(self, box, start, end):
        lo = dt.date.fromisoformat(start)
        hi = dt.date.fromisoformat(end) + dt.timedelta(days=1)
        out = {}
        for hr, _, _, car in self._classified(box, lo, hi, (120, 100)):
            if car is not None:
                out[(hr, car)] = out.get((hr, car), 0) + 1
        return out

    def avgspeed(self, box, date):
        d = dt.date.fromisoformat(date)
        sums = {}
        for hr, day, clsd, car in self._classified(
                box, d - dt.timedelta(days=30), d + dt.timedelta(days=1), None):
            if car is None:
                continue
            for tp in ((1, 0) if day == d else (0,)):
                s = sums.setdefault((hr, car, tp), [0, 0])
                s[0] += clsd
                s[1] += 1
        return {k: s / n for k, (s, n) in sums.items()}


def answer_of(kind, rows):
    """The program's collected rows in the oracle's shape."""
    if kind == "accident":
        return {(int(r[0]),): int(r[1]) for r in rows}
    if kind == "overspeed":
        return {(int(r[0]), r[1]): int(r[2]) for r in rows}
    return {(int(r[0]), r[1], int(r[3])): float(r[2]) for r in rows}


def same(kind, got, exp):
    if got.keys() != exp.keys():
        return False
    if kind != "avgspeed":
        return got == exp
    return all(math.isclose(got[k], exp[k], rel_tol=1e-9) for k in exp)


def expected(oracle, call):
    a = call["args"]
    box = [float(x) for x in a[:4]]
    if call["kind"] == "accident":
        return oracle.accident(box, a[4], a[5], call["acc_bytes"])
    if call["kind"] == "overspeed":
        return oracle.overspeed(box, a[4], a[5])
    return oracle.avgspeed(box, a[4])


def check_calls(data_dir, workdir, calls):
    """Number of calls whose answer differs from the oracle's, and the
    oracle's sizes. Identical calls are computed once; calls that threw
    have no answer and are counted as failed, not here."""
    oracle = ApiOracle(data_dir, workdir)
    memo, bad = {}, 0
    for call in calls:
        if call["error"] is not None:
            sys.stderr.write(f"oracle: {call['kind']} {call['args']} failed: {call['error']}\n")
            continue
        key = (call["kind"], tuple(call["args"]), call["acc_bytes"])
        if key not in memo:
            memo[key] = expected(oracle, call)
        got = answer_of(call["kind"], call["rows"])
        if not same(call["kind"], got, memo[key]):
            bad += 1
            if bad <= 3:
                sys.stderr.write(f"oracle: {key} got {sorted(got.items())[:6]} "
                                 f"expected {sorted(memo[key].items())[:6]}\n")
    return bad, oracle.stats()


# ---- the registry -----------------------------------------------------------

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def check_registry(out_dir, sf_dir, oracle_sql):
    """Names of the queries whose parquet output under out_dir differs from
    their oracleSql run in DuckDB over sf_dir (the tools/check.py rules:
    sorted column names, row count, rows sorted by every column, floats
    exactly equal)."""
    import numpy as np
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df):
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        return df.reset_index(drop=True)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        got = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        exp = canon(con.sql(sql).df())
        ok = list(got.columns) == list(exp.columns) and len(got) == len(exp)
        for c in got.columns if ok else []:
            g, e = got[c].values, exp[c].values
            if got[c].dtype.kind == "f" or exp[c].dtype.kind == "f":
                ok = np.array_equal(g.astype(float), e.astype(float), equal_nan=True)
            else:
                ok = np.array_equal(pd.Series(g).astype(str).values,
                                    pd.Series(e).astype(str).values)
            if not ok:
                break
        if not ok:
            bad.append(name)
            sys.stderr.write(f"oracle: {name} differs from its oracleSql\n")
    return bad


# ---- self-check against FIXTURES.md section 1.5 -----------------------------

FIXTURE_FILES = {
    "speed_base.csv": """G1,001,SITE_A,N,StationA,1,116.30,39.90
G1,002,SITE_B,S,StationB,1,116.50,39.50
G2,003,SITE_C,N,StationC,1,120.10,30.20
G2,004,SITE_D,N,StationD,1,,
""",
    "201606/201606CSYDATA.csv": """SITE_A,JA12345,2016-06-15 08:12:00,130,1
SITE_A,JB99999,2016-06-15 08:45:10,95,0
SITE_B,JC55555,2016-06-15 14:03:22,110,0
SITE_A,JA12345,bad-time,140,1
""",
    "201606/201606SFZDATA.csv": """ST9,2016-06-15 09:00:00,ST1,2016-06-15 08:00:00,1,JA12345,JA12345,0
ST9,2016-06-15 15:00:00,ST2,2016-06-15 13:30:00,2,JC55555,JC55555,1
""",
    "201607/201607CSYDATA.csv": "SITE_B,JB99999,2016-07-02 09:30:00,125,1\n",
    "201607/201607SFZDATA.csv":
        "ST9,2016-07-02 10:00:00,ST3,2016-07-02 09:00:00,1,JB99999,JB99999,0\n",
    "TF_ZFZD_CASESPECIFICATION.csv":
        '"1","5000","C001","2016-06-15 08:30:00","2","101","G1","K12","N","12","300",'
        '"116.40","39.85","rear-end","0","1","2","2","plain","sunny"\n'
        '"2","12000","C002","2016-06-16 22:10:00","1","101","G1","K40","S","40","0",'
        '"116.90","39.10","rollover","1","0","0","1","hill","rain"\n'
        '"3","1","C003","not-a-date","1","101","G1","K1","S","1","0",'
        '"116.40","39.85","minor","0","0","0","1","plain","fog"\n',
}


def write_fixture_files(data):
    for rel, text in FIXTURE_FILES.items():
        os.makedirs(os.path.dirname(os.path.join(data, rel)), exist_ok=True)
        with open(os.path.join(data, rel), "w") as f:
            f.write(text)


def self_check(scratch=None):
    """Raises AssertionError unless the oracle gives the known answers."""
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        data = os.path.join(d, "data")
        write_fixture_files(data)
        o = ApiOracle(data, d)
        box = [116.0, 117.0, 39.0, 40.0]
        full = len(o.acc_text)
        checks = [
            (o.accident(box, "2016-06-01", "2016-06-30", full), {(8,): 1, (22,): 1}),
            (o.accident(box, "1970-01-01", "2016-06-30", full),
             {(0,): 1, (8,): 1, (22,): 1}),
            (o.overspeed(box, "2016-06-01", "2016-06-30"), {(8, "01"): 1, (14, "04"): 1}),
            (o.overspeed(box, "2016-06-01", "2016-07-31"),
             {(8, "01"): 1, (14, "04"): 1, (9, "01"): 1}),
            (o.avgspeed(box, "2016-07-02"),
             {(9, "01", 1): 125.0, (8, "01", 0): 130.0, (9, "01", 0): 125.0,
              (14, "04", 0): 110.0}),
        ]
        for got, want in checks:
            assert got == want, f"oracle self-check: got {got}, want {want}"


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-check"]:
        self_check()
        print("oracle self-check passed")
    else:
        sys.exit(__doc__)
