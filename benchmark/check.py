"""Output checks, run after the measured passes.

Each check returns (results_checked, wrong, notes, facts): `wrong`
counts results that differ from the independent oracle, and `facts`
carries quantities the oracle side derives (rows changed, live rows)
for metrics that need a base.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
ETH_OUTPUTS = ["count_.txt", "avg_.txt", "contractTop10.txt", "minerTop.txt",
               "lucrativeID.txt", "lucrativeCategory.txt", "changeWithTime.txt",
               "avg_gasprice.txt", "avg_gasused.txt", "contractWithGas.txt",
               "dataoverhead.txt"]


def _close(a, b, rel=1e-9):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    return a == b


def _rows_equal(got, exp, ordered=False, rel=1e-9):
    g, e = list(map(tuple, got)), list(map(tuple, exp))
    if not ordered:
        key = lambda r: tuple((x is None, str(x) if not isinstance(x, float) else f"{x:.6g}")
                              for x in r)
        g, e = sorted(g, key=key), sorted(e, key=key)
    return len(g) == len(e) and all(
        len(x) == len(y) and all(_close(a, b, rel) for a, b in zip(x, y))
        for x, y in zip(g, e))


# ---------------------------------------------------------------- eth_etl
def eth(in_dir, out_dir, n_passes):
    """tools/eth_oracle.py checks the first and the last pass; every
    other pass must reproduce the first pass's outputs."""
    wrong, checked, notes = 0, 0, []
    procs = {p: subprocess.Popen([sys.executable, str(ROOT / "tools" / "eth_oracle.py"),
                                  str(in_dir), str(out_dir / f"pass{p}")],
                                 stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
             for p in sorted({0, n_passes - 1})}
    for p, proc in procs.items():
        stdout, stderr = proc.communicate()
        fails = [l for l in stdout.splitlines() if l.startswith("FAIL")]
        passes = [l for l in stdout.splitlines() if l.startswith("PASS")]
        checked += len(fails) + len(passes)
        wrong += len(fails) + (0 if proc.returncode == 0 or fails else len(ETH_OUTPUTS))
        notes += [f"pass{p} {l}" for l in fails]
        if proc.returncode != 0 and not fails:
            notes.append(f"pass{p} oracle error: {stderr[-300:]}")
    ref = {f: _load_json(out_dir / "pass0" / f) for f in ETH_OUTPUTS}
    for p in range(1, n_passes - 1):
        for f in ETH_OUTPUTS:
            checked += 1
            got = _load_json(out_dir / f"pass{p}" / f)
            if got is None or ref[f] is None or not _rows_equal(got, ref[f]):
                wrong += 1
                notes.append(f"pass{p} {f} differs from pass0")
    return checked, wrong, notes, {}


def _load_json(p):
    try:
        return json.loads(Path(p).read_text())
    except (OSError, ValueError):
        return None


# -------------------------------------------------------------- query_mix
def query_mix(tables_dir, q_dir, names, result):
    """DuckDB over SparkEntry.oracleSql for the first pass's results,
    compared the way tools/check_oracle.py compares (canonical rows,
    per-column dtypes). The driver compared every later pass's rows
    with the first pass's; each difference counts as wrong too."""
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import canon
    oracle = json.loads((q_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    wrong, notes = 0, []
    for name in names:
        try:
            got = con.sql(f"SELECT * FROM '{q_dir}/{name}/*.parquet'")
            exp = con.sql(oracle[name])
            gt = dict(zip(got.columns, map(str, got.types)))
            et = dict(zip(exp.columns, map(str, exp.types)))
            ok = gt == et and canon(got.fetchall(), got.columns) == canon(exp.fetchall(), exp.columns)
        except Exception as e:  # unreadable output or oracle error
            ok = False
            notes.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        if not ok:
            wrong += 1
            notes.append(f"{name}: differs from oracle")
    differ = result["extra"]["differ"]
    notes += [f"{d}: differs from pass 0" for d in differ]
    return len(names) + result["extra"]["compared"], wrong + len(differ), notes, {}


# ------------------------------------------------------------- gseg_churn
ROW_BYTES = 28  # logical row: k 8 + grp 4 + price 8 + tag 8


def gseg(in_dir, result):
    """Replays the executed prefix of the op log in DuckDB and checks
    every read against it, plus the final table contents."""
    ex = result["extra"]
    ops = [json.loads(l) for l in (in_dir / "ops.jsonl").read_text().splitlines() if l]
    ops = ops[:ex["ops_run"]]
    commits = {c["i"]: c for c in ex["commits"]}
    reads = {r["i"]: r for r in ex["reads"]}
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT k, grp, price, tag FROM '{in_dir}/base.parquet'")
    con.execute("CREATE TABLE s (k BIGINT, grp INTEGER, price DOUBLE, tag VARCHAR)")
    snaps = []      # (commit position, gen label, DataFrame) — recent ones only
    n_commit = 0
    changed = 0
    wrong, checked, notes = 0, 0, []

    def table():
        return con.execute("SELECT k, grp, price, tag FROM t ORDER BY k").df()

    def load_src(rows):
        con.execute("DELETE FROM s")
        con.executemany("INSERT INTO s VALUES (?, ?, ?, ?)", [tuple(r) for r in rows])

    for op in ops:
        kind, i = op["kind"], op["i"]
        if kind in ("ctas", "insert", "merge", "update", "delete", "compact"):
            c = commits.get(i)
            if c is None or not c["ok"]:
                continue
            if kind == "insert":
                load_src(op["rows"])
                con.execute("INSERT INTO t SELECT * FROM s")
                changed += len(op["rows"])
            elif kind == "merge":
                load_src(op["rows"])
                con.execute("UPDATE t SET grp = s.grp, price = s.price FROM s WHERE t.k = s.k")
                con.execute("INSERT INTO t SELECT * FROM s WHERE k NOT IN (SELECT k FROM t)")
                changed += len(op["rows"])
            elif kind == "update":
                changed += con.execute(
                    f"SELECT count(*) FROM t WHERE k BETWEEN {op['a']} AND {op['b']}").fetchone()[0]
                con.execute("UPDATE t SET price = round(price + 1.25, 2), grp = grp + 1 "
                            f"WHERE k BETWEEN {op['a']} AND {op['b']}")
            elif kind == "delete":
                changed += con.execute(
                    f"SELECT count(*) FROM t WHERE k BETWEEN {op['a']} AND {op['b']}").fetchone()[0]
                con.execute(f"DELETE FROM t WHERE k BETWEEN {op['a']} AND {op['b']}")
            snaps.append((n_commit, c["gen"], table()))
            snaps = snaps[-8:]
            n_commit += 1
            continue
        if kind == "vacuum":
            continue
        r = reads.get(i)
        if r is None:
            continue
        checked += 1
        got = r["rows"]
        if kind in ("point", "range", "bloom", "topn", "agg"):
            exp = con.execute(op["spark"].replace("gseg.db.t", "t")).fetchall()
            ok = _rows_equal(got, exp, ordered=(kind == "topn"))
        elif kind == "limit":
            n = con.execute("SELECT count(*) FROM t").fetchone()[0]
            live = {(k, g, round(p, 2), t) for k, g, p, t in
                    con.execute("SELECT k, grp, price, tag FROM t").fetchall()}
            ok = len(got) == min(20, n) and all(
                (k, g, round(p, 2), t) in live for k, g, p, t in got)
        elif kind == "travel":
            df = _snap(snaps, r["commit_idx"])
            ok = df is not None and _rows_equal(got, [[
                len(df), _cents_sum(df.price), int(df.k.min()), int(df.k.max())]])
        else:  # cdf: per-commit diffs over the covered commits
            # The feed starts at a generation. A commit that changed
            # nothing (a compact with nothing to merge) makes no new one,
            # so the feed starts at the first commit of that generation.
            gen_from = _snap_gen(snaps, r["commit_idx"])
            start = min((p for p, g, _ in snaps if g == gen_from), default=r["commit_idx"])
            exp = []
            for pos in range(start, n_commit):
                old, new = _snap(snaps, pos - 1), _snap(snaps, pos)
                if old is None or new is None:
                    exp = None
                    break
                gen = [g for p, g, _ in snaps if p == pos][0]
                exp += _diff_agg(old, new, gen)
            ok = exp is not None and _rows_equal(got, exp)
        if not ok:
            wrong += 1
            notes.append(f"op {i} {kind}: engine {str(got)[:160]}")
    checked += 1
    final = table()
    exp = list(final.itertuples(index=False, name=None))
    if not _rows_equal(ex["final_rows"], exp):
        wrong += 1
        notes.append("final table differs from the replay")
    return checked, wrong, notes, {"rows_changed": changed, "live_rows": len(final)}


def _snap_gen(snaps, pos):
    return next((g for p, g, _ in snaps if p == pos), None)


def _snap(snaps, pos):
    for p, _, df in snaps:
        if p == pos:
            return df
    return None


def _cents_sum(prices):
    return int(np.round(np.asarray(prices) * 100).sum()) / 100.0


def _diff_agg(old, new, gen):
    m = old.merge(new, on="k", how="outer", suffixes=("_o", "_n"), indicator=True)
    parts = {"insert": m[m._merge == "right_only"][["k", "price_n"]].rename(columns={"price_n": "p"}),
             "delete": m[m._merge == "left_only"][["k", "price_o"]].rename(columns={"price_o": "p"})}
    both = m[m._merge == "both"]
    chg = both[(both.grp_o != both.grp_n) | (both.price_o != both.price_n) | (both.tag_o != both.tag_n)]
    parts["update_preimage"] = chg[["k", "price_o"]].rename(columns={"price_o": "p"})
    parts["update_postimage"] = chg[["k", "price_n"]].rename(columns={"price_n": "p"})
    return [[t, gen, len(d), _cents_sum(d.p), int(d.k.min()), int(d.k.max())]
            for t, d in parts.items() if len(d)]


# ---------------------------------------------------------- stream_events
WATERMARK_US = 30 * 60 * 10**6
SESSION_GAP_US = 10 * 60 * 10**6


def stream(in_dir, result):
    """Batch mirror of the landed chunks: per-batch watermarks, late
    rows dropped from the windowed outputs, all rows in the
    transformWithState totals."""
    ex = result["extra"]
    files = sorted((in_dir / "chunks").glob("*.parquet"))[:ex["landed"]] + [in_dir / "flush.parquet"]
    frames, hi = [], None
    for f in files:
        df = pd.read_parquet(f)
        us = df.ts.values.astype("datetime64[us]").astype(np.int64)
        df["us"] = us
        df["late"] = us < (hi - WATERMARK_US) if hi is not None else False
        hi = max(hi, int(us.max())) if hi is not None else int(us.max())
        frames.append(df)
    ev = pd.concat(frames, ignore_index=True)
    ev["cents"] = np.round(ev.value * 100).astype(np.int64)
    on_time = ev[~ev.late]
    wrong, checked, notes = 0, 0, []

    def compare(name, got, exp, width):
        nonlocal wrong, checked
        g = {tuple(r[:-width]): r[-width:] for r in got}
        checked += len(exp)
        bad = sum(1 for k, v in exp.items() if k not in g or not _rows_equal([g[k]], [v]))
        bad += sum(1 for k in g if k not in exp)
        if bad:
            notes.append(f"{name}: {bad} rows differ")
        wrong += bad

    hour = on_time.us // (3600 * 10**6) * (3600 * 10**6)
    tum = on_time.groupby([hour, on_time.event_type]).agg(n=("us", "size"), c=("cents", "sum"))
    compare("tumble", ex["tumble"], {
        (_fmt(h, False), t): [int(r.n), r.c / 100.0] for (h, t), r in tum.iterrows()}, 2)
    tws = ev.groupby("user_id").agg(n=("us", "size"), c=("cents", "sum"),
                                    t=("event_type", "nunique"))
    compare("tws", ex["tws"], {(int(u),): [int(r.n), r.c / 100.0, int(r.t)]
                               for u, r in tws.iterrows()}, 3)
    exp_sess = {}
    for u, g in on_time[on_time.user_id >= 0].sort_values("us").groupby("user_id"):
        start = prev = None
        n = c = 0
        for us, cents in zip(g.us.values, g.cents.values):
            if start is not None and us >= prev + SESSION_GAP_US:
                exp_sess[(_fmt(start), _fmt(prev + SESSION_GAP_US), int(u))] = [n, c / 100.0]
                start, n, c = None, 0, 0
            if start is None:
                start = us
            prev, n, c = us, n + 1, c + cents
        exp_sess[(_fmt(start), _fmt(prev + SESSION_GAP_US), int(u))] = [n, c / 100.0]
    compare("sessions", ex["sessions"], exp_sess, 2)
    return checked, wrong, notes, {"late_rows": int(ev.late.sum()),
                                   "events": int(len(ev) - 1)}


def _fmt(us, micros=True):
    t = pd.Timestamp(int(us), unit="us")
    return t.strftime("%Y-%m-%d %H:%M:%S.%f") if micros else t.strftime("%Y-%m-%d %H:%M:%S")
