"""Output checks made apart from the program, after the timed section.

- `marts`: every stored mart equals DuckDB's evaluation of graft's own
  oracle SQL (`SparkEntry.oracleSql`, built from `OracleSql`'s chains) over
  the generated parquet, compared under `tools/oracle_check.py`'s canon; the
  breadth mart holds one row per distinct trade date of the int mart.
- trace runs: the named battery rows against their oracle SQL, likewise.
- `daily`: the maintained mart is recomputed in Python from the generated
  vendor bars and the constituents rule (one row per landed member bar;
  `yesterday_close` under the 4-day lookback with the calendar-day fallback).

A mismatch fails the operation that produced the output.
"""
import datetime as dt
import glob
import math
import os

import duckdb

import gen

TABLES = ["region", "nation", "lineitem", "documents", "embeddings"]


def fail(ops, op_id, why):
    for o in ops:
        if o["id"] == op_id and o["ok"]:
            o.update(ok=False, ms=None, why="check: " + why)


def _canon(v, digits):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else "%.*g" % (digits, v)
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


def _lines(cols, rows, digits):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_canon(r[i], digits) for i in order) for r in rows)


def frames_equal(got_cols, got_rows, exp_cols, exp_rows):
    """Same column names, same row count, same sorted canonical rows (9
    significant digits, or 6 where only float rounding differs)."""
    gc = [c.lower() for c in got_cols]
    ec = [c.lower() for c in exp_cols]
    if sorted(gc) != sorted(ec):
        return f"columns differ: {sorted(gc)} vs {sorted(ec)}"
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows, expected {len(exp_rows)}"
    for digits in (9, 6):
        g, e = _lines(gc, got_rows, digits), _lines(ec, exp_rows, digits)
        if g == e:
            return None
    bad = sum(1 for a, b in zip(g, e) if a != b)
    return f"{bad}/{len(g)} rows differ, first: {next(a for a, b in zip(g, e) if a != b)[:160]}"


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _stored(con, path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return con.sql(f"SELECT * FROM read_parquet({files!r}, hive_partitioning = true)")


def oracle(res, data_dir, ops):
    con = _connect(data_dir)
    for o in res.get("oracle", []):
        try:
            got = _stored(con, o["path"])
            exp = con.sql(o["sql"])
            why = frames_equal(got.columns, got.fetchall(), exp.columns, exp.fetchall())
        except Exception as e:  # a check that cannot run fails its operation
            why = f"{type(e).__name__}: {e}"
        if why:
            fail(ops, o["op"], f"{o['table']}: {why}")
    if "breadth_check" in res:
        b = res["breadth_check"]
        try:
            con.register("b", _stored(con, os.path.join(b["store"], "agg_daily_market_breadth")))
            con.register("i", _stored(con, os.path.join(b["store"], "int_russell_daily")))
            n, dates, want = con.sql(
                "SELECT (SELECT count(*) FROM b), (SELECT count(DISTINCT trade_date) FROM b), "
                "(SELECT count(DISTINCT trade_date) FROM i)").fetchone()
            why = None if n == dates == want else \
                f"breadth has {n} rows over {dates} dates; int has {want}"
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            fail(ops, b["op"], why)
    con.close()


def _member(ticker, day):
    """`TestFixtures.constituents`: nation keys %10==3 join on 1998-01-01,
    %10==7 leave after 1997-12-31."""
    k = int(ticker[1:])
    if day < gen.SPLIT_DATE:
        return k % 10 != 3
    return k % 10 != 7


def expected_daily_mart(seed, landed, bootstrap_op):
    """(ticker, date) -> (close, yesterday_close, id of the op that wrote it)."""
    days, bars = gen.vendor_bars(seed)
    history = days[:gen.DAILY_HISTORY]
    close = {(t, d): c for d in days for (t, _o, _h, _l, c, _v, _n) in bars[d]}
    tickers = sorted({t for (t, _d) in close})
    mart = {}
    for t in tickers:
        prev = None
        for d in history:
            if _member(t, d):
                mart[(t, d)] = (close[(t, d)], prev, bootstrap_op)
                prev = close[(t, d)]
    raw_days = list(history)
    for day in landed:
        max_d = max(d for (_t, d) in mart)
        raw_days.append(day)
        lo = max_d - dt.timedelta(days=4)
        new = {}
        for t in tickers:
            prev = None
            for d in (x for x in raw_days if x >= lo):
                if not _member(t, d):
                    continue
                if prev is None:
                    old = mart.get((t, d - dt.timedelta(days=1)))
                    prev = old[0] if old else None
                new[(t, d)] = (close[(t, d)], prev, f"cycle-{day.isoformat()}")
                prev = close[(t, d)]
        rewritten = {d for (_t, d) in new}
        mart = {k: v for k, v in mart.items() if k[1] not in rewritten}
        mart.update(new)
    return mart


def daily_store(st, seed, ops):
    landed = [dt.date.fromisoformat(x) for x in st["landed"]]
    want = expected_daily_mart(seed, landed, st["bootstrap"])
    con = duckdb.connect()
    got = _stored(con, st["mart"]).project("ticker, trade_date, close, yesterday_close").fetchall()
    con.close()

    def op_of(key):
        if key in want:
            return want[key][2]
        return st["bootstrap"] if not landed or key[1] < landed[0] else f"cycle-{key[1]}"

    seen = {}
    for t, day, c, yc in got:
        if (t, day) in seen:
            fail(ops, op_of((t, day)), f"duplicate row {t} {day}")
        seen[(t, day)] = (c, yc)
    for key, (c, yc, op) in want.items():
        if key not in seen:
            fail(ops, op, f"missing row {key[0]} {key[1]}")
        elif seen[key] != (c, yc):
            fail(ops, op, f"{key[0]} {key[1]}: (close, yesterday_close) = {seen[key]}, "
                          f"expected {(c, yc)}")
    for key in seen.keys() - want.keys():
        fail(ops, op_of(key), f"unexpected row {key[0]} {key[1]}")
    for k in st["full_rebuild_mismatches"]:
        t, day = k.split("|")
        key = (t, dt.date.fromisoformat(day))
        fail(ops, op_of(key), f"{t} {day} differs from IntRussellDaily.buildFull")


def run_all(res, data_dir, seed, ops):
    oracle(res, data_dir, ops)
    for st in res.get("daily", []):
        try:
            daily_store(st, seed, ops)
        except Exception as e:
            fail(ops, st["bootstrap"], f"{type(e).__name__}: {e}")

