#!/usr/bin/env python3
"""Seeded generator for the reference's CSV layout (FIXTURES.md section 1.5).

    python3 perfbench/fixture.py <out_dir> <seed>

writes under <out_dir>:

  data/speed_base.csv                      camera sites, 8 fields
  data/TF_ZFZD_CASESPECIFICATION.csv       accidents, 20 quoted fields
  data/<YYYYMM>/<YYYYMM>CSYDATA.csv        speed observations, 5 fields
  data/<YYYYMM>/<YYYYMM>SFZDATA.csv        toll trips, 8 fields
  stage/<YYYYMM>/...                       months that arrive while the
                                           benchmark runs, plus the accident
                                           rows they bring
  rounds.tsv                               call parameters, one round a line
  warmup.tsv                               the round each set-up runs
  manifest.json                            the sizes and rates used

The same seed always gives byte-identical files. Every kind of
dirty value that CsvIngest handles is planted at the rate in DIRTY; rows with
the wrong field count are not (CsvIngest keeps some of them, see CHANGES.md).
"""
import json
import os
import sys

import numpy as np

# Share of rows, per table, that carry each kind of dirty value.
DIRTY = {
    "base_empty_site": 0.02,      # GDCSYBM empty
    "base_empty_lonlat": 0.02,    # LON or LAT empty
    "base_bad_lonlat": 0.02,      # LON or LAT not a number
    "speed_empty_site": 0.01,     # SITE_GUID empty
    "speed_empty_plate": 0.01,    # HPHM empty
    "speed_bad_time": 0.01,       # WZSJ unparseable
    "speed_bad_clsd": 0.01,       # CLSD not a number
    "fee_empty_plate": 0.01,      # ENVEHPLATE empty
    "fee_bad_entime": 0.01,       # ENTIME unparseable
    "fee_bad_extime": 0.01,       # EXTIME unparseable
    "acc_bad_date": 0.02,         # CASEDATE unparseable (kept at epoch 0)
    "acc_empty_lonlat": 0.01,     # CASELONGITUDE empty (reads as 0.0)
    "acc_bad_lonlat": 0.01,       # CASELATITUDE not a number (reads as 0.0)
}
BAD_TIMES = ["bad-time", "2016/06/15 08:12:00", "N/A", ""]
BAD_NUMBERS = ["abc", "N/A", "x12"]

# Region the sites lie in, on a GRID x GRID grid; a query box spans BOX x BOX
# grid cells (a quarter of the sites).
REGION = (115.5, 117.5, 38.5, 40.5)
GRID = 20
BOX = 10

# Sizes of the api_live inputs: small months, a hot plate band that makes
# the JN2 interval join a large cost, and a month arriving before each round.
SIZES = dict(first="2016-01", months=2, stage_months=3,
             speed_rows=40_000, fee_rows=8_000,
             plates=20_000, hot_plates=4, hot_share=0.2,
             accidents=15_000, stage_accidents=300)
ROUNDS = 4000  # call rounds listed in rounds.tsv; a run uses a prefix


def month_list(first, n):
    y, m = map(int, first.split("-"))
    out = []
    for _ in range(n):
        out.append((y, m))
        m += 1
        if m == 13:
            y, m = y + 1, 1
    return out


def month_start(y, m):
    return np.datetime64(f"{y:04d}-{m:02d}-01T00:00:00", "s")


def strs(a):
    """A numpy array as a list of str."""
    return np.asarray(a).astype(str).tolist()


def fmt_ts(secs):
    """epoch seconds -> list of 'YYYY-MM-DD HH:MM:SS'."""
    s = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    s.view(np.uint32).reshape(len(s), -1)[:, 10] = ord(" ")
    return s.tolist()


def fmt_deg(x):
    return [f"{v:.5f}" for v in x.tolist()]


def prefixed(prefix, idx, width):
    return [f"{prefix}{v:0{width}d}" for v in idx.tolist()]


def plant(rng, col, rate, values):
    """Overwrite a `rate` share of the list `col` with draws from `values`."""
    hit = np.flatnonzero(rng.random(len(col)) < rate)
    picks = rng.integers(0, len(values), len(hit))
    for i, k in zip(hit.tolist(), picks.tolist()):
        col[i] = values[k]
    return col


def join_rows(cols, quote=False):
    cols = [c if isinstance(c, list) else strs(c) for c in cols]
    if quote:
        return "".join('"' + '","'.join(r) + '"\n' for r in zip(*cols))
    return "".join(",".join(r) + "\n" for r in zip(*cols))


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)


def sites_csv(rng):
    """Sites at the centres of a GRID x GRID grid over REGION, so every
    query box holds the same number of them."""
    n = GRID * GRID
    ids = prefixed("S", np.arange(n), 4)
    cell = (REGION[1] - REGION[0]) / GRID
    i = np.arange(n)
    lon = fmt_deg(REGION[0] + (i % GRID + 0.5) * cell)
    lat = fmt_deg(REGION[2] + (i // GRID + 0.5) * cell)
    site = plant(rng, list(ids), DIRTY["base_empty_site"], [""])
    lon = plant(rng, lon, DIRTY["base_empty_lonlat"], [""])
    lat = plant(rng, lat, DIRTY["base_bad_lonlat"], BAD_NUMBERS)
    text = join_rows([prefixed("G", i % 7, 1), prefixed("", i, 3), site,
                      rng.choice(["N", "S", "E", "W"], n),
                      prefixed("Station", i, 1), np.ones(n, dtype=int), lon, lat])
    return np.array(ids), text


def plates_for(rng, p, n):
    """n plate numbers: a `hot_share` of them from `hot_plates` fleet plates."""
    idx = rng.integers(0, p["plates"], n)
    hot = rng.random(n) < p["hot_share"]
    idx[hot] = rng.integers(0, p["hot_plates"], int(hot.sum()))
    return idx


def month_files(rng, p, site_ids, y, m):
    """(CSYDATA text, SFZDATA text) for one month. Times fall on days 1-28,
    so a month's files stay valid when shifted to any other month."""
    t0 = month_start(y, m).astype(np.int64)
    nf, ns = p["fee_rows"], p["speed_rows"]
    trip_plate = plates_for(rng, p, nf)
    en = t0 + rng.integers(0, 28 * 86400 - 5 * 3600, nf)
    ex = en + rng.integers(20 * 60, 4 * 3600, nf)
    vclass = rng.choice([1, 1, 1, 2, 3, 4], nf)
    truck = (rng.random(nf) < 0.35).astype(int)
    # 85% of observations sit inside one of the month's trips
    inside = rng.random(ns) < 0.85
    trip = rng.integers(0, nf, ns)
    obs_plate = np.where(inside, trip_plate[trip], plates_for(rng, p, ns))
    frac = rng.random(ns)
    t_in = en[trip] + (frac * (ex[trip] - en[trip])).astype(np.int64)
    t_any = t0 + rng.integers(0, 28 * 86400, ns)
    obs_t = np.where(inside, t_in, t_any)
    clsd = np.clip(rng.normal(105, 22, ns), 20, 220).astype(int)

    site = plant(rng, site_ids[rng.integers(0, len(site_ids), ns)].tolist(),
                 DIRTY["speed_empty_site"], [""])
    plate = plant(rng, prefixed("P", obs_plate, 6), DIRTY["speed_empty_plate"], [""])
    wzsj = plant(rng, fmt_ts(obs_t), DIRTY["speed_bad_time"], BAD_TIMES)
    clsd_s = plant(rng, strs(clsd), DIRTY["speed_bad_clsd"], BAD_NUMBERS)
    csy = join_rows([site, plate, wzsj, clsd_s, (clsd > 120).astype(int)])

    en_s = plant(rng, fmt_ts(en), DIRTY["fee_bad_entime"], BAD_TIMES)
    ex_s = plant(rng, fmt_ts(ex), DIRTY["fee_bad_extime"], BAD_TIMES)
    plates = prefixed("P", trip_plate, 6)
    enplate = plant(rng, list(plates), DIRTY["fee_empty_plate"], [""])
    st = lambda: prefixed("ST", rng.integers(0, 60, nf), 1)
    sfz = join_rows([st(), ex_s, st(), en_s, vclass, enplate, plates, truck])
    return csy, sfz


def accident_rows(rng, n, months, first_id):
    which = rng.integers(0, len(months), n)
    starts = np.array([month_start(y, m).astype(np.int64) for y, m in months])
    ts = starts[which] + rng.integers(0, 28 * 86400, n)
    date = plant(rng, fmt_ts(ts), DIRTY["acc_bad_date"], BAD_TIMES)
    lon, lat = (fmt_deg(rng.uniform(lo, hi, n))
                for lo, hi in (REGION[:2], REGION[2:]))
    lon = plant(rng, lon, DIRTY["acc_empty_lonlat"], [""])
    lat = plant(rng, lat, DIRTY["acc_bad_lonlat"], BAD_NUMBERS)
    ri = lambda lo, hi: rng.integers(lo, hi, n)
    return join_rows([
        ri(1, 4), ri(0, 50000), prefixed("C", first_id + np.arange(n), 1),
        date, ri(1, 4), ri(100, 120),
        rng.choice(["G1", "G4", "G6"], n), prefixed("K", ri(1, 90), 1),
        rng.choice(["N", "S"], n), ri(1, 90), ri(0, 1000), lon, lat,
        rng.choice(["rear-end", "rollover", "side"], n),
        ri(0, 2), ri(0, 3), ri(0, 4), ri(1, 4),
        rng.choice(["plain", "hill"], n), rng.choice(["sunny", "rain", "fog"], n),
    ], quote=True)


def rounds_tsv(rng, n=ROUNDS):
    """One line per round: box, accident range, over-speed range and
    average-speed date. A box always spans BOX cells of the site grid and
    each range has a fixed length, so rounds differ in place, not in size.
    Dates are days of the month, resolved when the round runs: the accident
    range in the newest month, the over-speed range from day o of the month
    before to day o of the newest, the average-speed date in the newest
    month."""
    cell = (REGION[1] - REGION[0]) / GRID
    lines = []
    for _ in range(n):
        x0, y0 = rng.integers(0, GRID - BOX + 1, 2)
        xy = [f"{REGION[0] + x0 * cell:.4f}", f"{REGION[0] + (x0 + BOX) * cell:.4f}",
              f"{REGION[2] + y0 * cell:.4f}", f"{REGION[2] + (y0 + BOX) * cell:.4f}"]
        a0, o0 = int(rng.integers(1, 19)), int(rng.integers(1, 29))
        avg_day = int(rng.integers(3, 29))
        lines.append("\t".join(xy + [str(v) for v in (a0, a0 + 9, o0, o0, avg_day)]))
    return "\n".join(lines) + "\n"


def generate(out, seed):
    p = SIZES
    rng = np.random.default_rng([seed, 1])
    data = os.path.join(out, "data")
    site_ids, base = sites_csv(rng)
    write(os.path.join(data, "speed_base.csv"), base)
    months = month_list(p["first"], p["months"])
    for y, m in months:
        csy, sfz = month_files(rng, p, site_ids, y, m)
        ym = f"{y:04d}{m:02d}"
        write(os.path.join(data, ym, f"{ym}CSYDATA.csv"), csy)
        write(os.path.join(data, ym, f"{ym}SFZDATA.csv"), sfz)
    write(os.path.join(data, "TF_ZFZD_CASESPECIFICATION.csv"),
          accident_rows(rng, p["accidents"], months, 0))
    staged = month_list(p["first"], p["months"] + p["stage_months"])[p["months"]:]
    for i, (y, m) in enumerate(staged):
        csy, sfz = month_files(rng, p, site_ids, y, m)
        ym = f"{y:04d}{m:02d}"
        write(os.path.join(out, "stage", ym, f"{ym}CSYDATA.csv"), csy)
        write(os.path.join(out, "stage", ym, f"{ym}SFZDATA.csv"), sfz)
        write(os.path.join(out, "stage", ym, "accidents.csv"),
              accident_rows(rng, p["stage_accidents"], [(y, m)],
                            p["accidents"] + i * p["stage_accidents"]))
    write(os.path.join(out, "rounds.tsv"), rounds_tsv(rng))
    write(os.path.join(out, "warmup.tsv"), rounds_tsv(rng, n=1))
    manifest = dict(seed=seed, dirty=DIRTY, **p,
                    month_dirs=[f"{y:04d}{m:02d}" for y, m in months],
                    stage_dirs=[f"{y:04d}{m:02d}" for y, m in staged])
    write(os.path.join(out, "manifest.json"), json.dumps(manifest, indent=1) + "\n")
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: fixture.py <out_dir> <seed>")
    generate(sys.argv[1], int(sys.argv[2]))
