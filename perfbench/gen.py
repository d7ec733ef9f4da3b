"""Seeded input generation for the benchmark workloads.

Every table has the schema of graft's TPC-H-ish test tables (TESTDATA.md), so
graft reads them through its own fixture derivations (`TestFixtures`):

- `marts`: `lineitem`, `nation`, `region`. `TestFixtures.stagedBars` groups
  lineitem by (l_suppkey % 25, ship date) into OHLCV bars; `nation` x `region`
  gives the 25-ticker SCD2 constituents dimension split at 1998-01-01.
- `daily`: vendor JSON files in `RawLanding.landingSchema`, one bar per
  (ticker, weekday), plus `nation` and `region` for the constituents.
- trace runs also write `documents` and `embeddings` for the `ops` rows.

Prices are quarter-valued (exact in binary floating point), so sums and
averages over them agree bit for bit between Spark, DuckDB and Python.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_TICKERS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SPLIT_DATE = dt.date(1998, 1, 1)

# marts: calendar days of ship dates, across the constituents split; every
# (ticker, day) has at least one line, so every member has a bar every day
MARTS_START = dt.date(1997, 12, 1)
MARTS_DAYS = 60

# daily: weekday calendar; bootstrap history ends just before the split so the
# first landed days exercise the index join/leave boundary
DAILY_HISTORY = 40
DAILY_LAST_BOOTSTRAP = dt.date(1997, 12, 30)
DAILY_LANDING_MAX = 10

VOCAB = ("the a data spark join hash row batch scan column customer filter "
         "small slow merge order vector line table agg value key stream "
         "window part group big sort query fast").split()
LANGS = ["en"] * 9 + ["zh", "zh", "zh", "es", "es", "es", "de", "de", "de",
                      "fr", "fr"]


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _write(table, path):
    pq.write_table(table, path)


def nation_region(seed, out_dir):
    rng = _rng(seed, 1)
    # every region keeps at least one nation: a sector per region
    regions = np.concatenate([np.arange(5), rng.integers(0, 5, N_TICKERS - 5)])
    rng.shuffle(regions)
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(N_TICKERS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_TICKERS)],
        "n_regionkey": pa.array(regions, pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(out_dir, "region.parquet"))


def _walk(rng, n_steps, start_lo=20.0, start_hi=400.0):
    """Per-ticker geometric random walks with drift regimes: (tickers, steps)."""
    start = rng.uniform(start_lo, start_hi, N_TICKERS)
    drift = rng.normal(0, 0.002, (N_TICKERS, 1)) * np.sign(
        np.sin(np.arange(n_steps) / rng.uniform(40, 120, (N_TICKERS, 1))))
    steps = drift + rng.normal(0, 0.015, (N_TICKERS, n_steps))
    return start[:, None] * np.exp(np.cumsum(steps, axis=1))


def lineitem(seed, out_dir):
    """lineitem rows whose (l_suppkey % 25, ship date) groups are the bars."""
    rng = _rng(seed, 2)
    level = _walk(rng, MARTS_DAYS, 200.0, 2000.0)
    lines = 1 + rng.poisson(1.0, (N_TICKERS, MARTS_DAYS))
    ticker = np.repeat(np.arange(N_TICKERS), lines.sum(axis=1))
    day = np.concatenate([np.repeat(np.arange(MARTS_DAYS), lines[t])
                          for t in range(N_TICKERS)])
    n = len(day)
    price = np.round(level[ticker, day] * rng.uniform(0.97, 1.03, n) * 100) / 100
    epoch = dt.datetime(MARTS_START.year, MARTS_START.month, MARTS_START.day)
    ship = np.array([epoch], dtype="datetime64[us]") + (
        day.astype("timedelta64[D]").astype("timedelta64[us]"))
    _write(pa.table({
        "l_orderkey": pa.array(np.arange(n) // 4, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(ticker + N_TICKERS * rng.integers(0, 4, n),
                              pa.int64()),
        "l_linenumber": pa.array(np.arange(n) % 4 + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))


def documents(seed, out_dir, n_docs=500):
    rng = _rng(seed, 3)
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_docs)
    vec = centers[label] + rng.normal(0, 0.8, (n_docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))


def weekdays_ending(last, n):
    days, d = [], last
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d -= dt.timedelta(days=1)
    return days[::-1]


def weekdays_after(first_excl, n):
    days, d = [], first_excl
    while len(days) < n:
        d += dt.timedelta(days=1)
        if d.weekday() < 5:
            days.append(d)
    return days


def vendor_bars(seed):
    """One bar per (ticker, weekday): {date: [(ticker, o, h, l, c, v, n)]}."""
    rng = _rng(seed, 4)
    days = (weekdays_ending(DAILY_LAST_BOOTSTRAP, DAILY_HISTORY) +
            weekdays_after(DAILY_LAST_BOOTSTRAP, DAILY_LANDING_MAX))
    close = np.maximum(np.round(_walk(rng, len(days)) * 4) / 4, 1.0)
    opn = np.maximum(np.round(close * rng.uniform(0.98, 1.02, close.shape) * 4) / 4, 1.0)
    high = np.maximum(opn, close) + np.round(rng.uniform(0, 2, close.shape) * 4) / 4
    low = np.maximum(np.minimum(opn, close) -
                     np.round(rng.uniform(0, 2, close.shape) * 4) / 4, 0.25)
    vol = rng.integers(1000, 5_000_000, close.shape)
    ntx = rng.integers(10, 50_000, close.shape)
    bars = {}
    for j, d in enumerate(days):
        bars[d] = [(f"S{t:02d}", float(opn[t, j]), float(high[t, j]),
                    float(low[t, j]), float(close[t, j]), int(vol[t, j]),
                    int(ntx[t, j])) for t in range(N_TICKERS)]
    return days, bars


def _vendor_lines(d, rows):
    t_ms = int(dt.datetime(d.year, d.month, d.day, 21, tzinfo=dt.timezone.utc)
               .timestamp() * 1000)
    for (t, o, h, l, c, v, n) in rows:
        yield json.dumps({"T": t, "v": float(v), "vw": (h + l + c) / 3, "o": o,
                          "c": c, "h": h, "l": l, "n": n, "t_ms": t_ms,
                          "api_date": d.isoformat()})


def daily_files(seed, out_dir):
    """Bootstrap file (the whole history) and one file per landing day."""
    days, bars = vendor_bars(seed)
    history, landing = days[:DAILY_HISTORY], days[DAILY_HISTORY:]
    os.makedirs(os.path.join(out_dir, "days"))
    with open(os.path.join(out_dir, "bootstrap.json"), "w") as f:
        for d in history:
            f.write("\n".join(_vendor_lines(d, bars[d])) + "\n")
    for d in landing:
        with open(os.path.join(out_dir, "days", f"{d.isoformat()}.json"), "w") as f:
            f.write("\n".join(_vendor_lines(d, bars[d])) + "\n")


def generate(workload, seed, data_dir, trace):
    """Write every input the run needs under `data_dir`."""
    os.makedirs(data_dir, exist_ok=True)
    nation_region(seed, data_dir)
    if workload == "marts" or trace:
        lineitem(seed, data_dir)
        # what the dashboard session draws its page parameters from
        last = MARTS_START + dt.timedelta(days=MARTS_DAYS - 1)
        with open(os.path.join(data_dir, "marts.properties"), "w") as f:
            f.write(f"tickers={','.join(f'S{t:02d}' for t in range(N_TICKERS))}\n"
                    f"sectors={','.join(sorted(REGIONS))}\n"
                    f"first={MARTS_START.isoformat()}\nlast={last.isoformat()}\n")
    if workload == "daily" or trace:
        daily_files(seed, os.path.join(data_dir, "vendor"))
    if trace:
        documents(seed, data_dir)
