#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the repository root. Builds the engine and the driver from
source (cached), generates the workload's inputs from the seed (cached,
not part of set-up), starts a fresh driver JVM on a GraftSession at
local[nproc], measures a number of passes set by the given seconds, checks every
result against an independent oracle outside the timed region, and
prints one JSON line last. See benchmark/README.md for the workloads
and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import check  # noqa: E402
import gen  # noqa: E402
import jvm  # noqa: E402

WORKLOADS = ("eth_etl", "query_mix", "gseg_churn", "stream_events")
HEAP = "1g"
# A whole run must end within 180 s: the driver JVM gets 140 s and the
# checks take the rest.
JVM_TIMEOUT_S = 140
TABLES_SEED = 20240101   # query_mix tables are fixed; the seed sets query order
# Passes before this index are not warm: the first pays class loading,
# JIT and codegen compilation in the fresh JVM.
WARM_FROM = 1
# Nominal seconds per pass, the cold one included, on a 4-core host.
# --seconds sets a run's pass count through them, so the count, and with it
# how far the JIT gets, does not depend on how fast the host is that day.
PASS_S = {"eth_etl": 5.0, "query_mix": 5.0, "gseg_churn": 3.3, "stream_events": 5.0}

# query_mix: SparkEntry queries with an oracle SQL, across the operator
# and function modules (no gseg s* rows, stream rows or gate rows).
QUERIES = {
    "operators": [
        "q1_pricing_summary", "j1_agg_join", "j2_semi_join", "a9_rollup",
        "a7_pivot", "w4_ntile_lead", "x9_json_extract", "ev_window",
        "ev_session", "asof_purchase_attribution", "zorder_codes"],
    "functions": [
        "text_tokens", "text_quality", "dedup_exact", "text_pii_scrub",
        "emb_centroid"],
}

# Input sizes per workload: (normal, tiny). Tiny is the self-test mode.
SIZES = {
    "eth_etl": ({"n_tx": 60000, "n_blocks": 8000}, {"n_tx": 3000, "n_blocks": 400}),
    "query_mix": ({"sf": 0.01}, {"sf": 0.001}),
    "gseg_churn": ({"n_base": 50000, "n_blocks": 40}, {"n_base": 4000, "n_blocks": 8}),
    "stream_events": ({"n_chunks": 200, "rows": 2000, "users": 300, "chunks_per_pass": 1},
                      {"n_chunks": 12, "rows": 200, "users": 40, "chunks_per_pass": 1}),
}


def family(name):
    """Query family: the name's prefix with trailing digits stripped
    (the grouping graft.Bench uses)."""
    head = name.split("_")[0]
    return head.rstrip("0123456789") or head


def n_passes(workload, seconds):
    """The cold pass and at least two warm ones."""
    return max(WARM_FROM + 2, round(seconds / PASS_S[workload]))


def query_order(seed):
    import random
    names = QUERIES["operators"] + QUERIES["functions"]
    random.Random(seed).shuffle(names)
    return names


# ----------------------------------------------------------------- inputs
def inputs(workload, seed, tiny):
    size = SIZES[workload][1 if tiny else 0]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    tag += "-" + hashlib.sha256(Path(gen.__file__).read_bytes()).hexdigest()[:8]
    if workload == "query_mix":
        d = jvm.BUILD / "inputs" / f"tables-{TABLES_SEED}-{tag}"
    else:
        d = jvm.BUILD / "inputs" / f"{workload}-{seed}-{tag}"
    if (d / ".ok").exists():
        return d
    shutil.rmtree(d, ignore_errors=True)
    if workload == "eth_etl":
        gen.eth(d, seed, **size)
    elif workload == "query_mix":
        gen.tables(d, TABLES_SEED, **size)
    elif workload == "gseg_churn":
        gen.gseg(d, seed, **size)
    else:
        gen.stream(d, seed, **size)
    (d / ".ok").write_text("")
    return d


# ----------------------------------------------------------------- metrics
def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs):
    """Highest of the standard percentiles with at least ten samples
    beyond it; (value, percentile, n). Falls back to the maximum."""
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n - math.ceil(p / 100 * n) >= 10:
            return pct(xs, p), p, n
    return (max(xs), 100, n) if xs else (0.0, 100, 0)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Self seconds per layer: span duration minus its children's."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1e9
    return out


def warm_passes(res, traced, start=WARM_FROM):
    """Timed seconds of the passes from `start` on that were (not) traced."""
    return [s for p, (s, t) in enumerate(zip(res["pass_s"], res["pass_traced"]))
            if p >= start and t == traced]


def e2e_metrics(res):
    """cold_s is the first pass; warm_s the median untraced warm pass
    (a traced run alternates traced and untraced warm passes)."""
    return {"cold_s": res["pass_s"][0], "warm_s": med(warm_passes(res, False))}


def workload_metrics(workload, res, facts):
    """The workload's own end-to-end quantities (latency by statement
    class, amplification, stream throughput)."""
    ex, m = res["extra"], {}
    if workload == "gseg_churn":
        for cls in ("commit", "read"):
            xs = [o["ms"] for o in res["ops"] if o["kind"] == cls]
            t, _, _ = tail(xs)
            m[f"gseg.{cls}_p50_ms"], m[f"gseg.{cls}_tail_ms"] = med(xs), t
        written = sum(c["bytes_written"] for c in ex["commits"] if c["kind"] != "ctas")
        m["gseg.write_amp"] = written / max(1, facts.get("rows_changed", 0) * check.ROW_BYTES)
        m["gseg.space_amp"] = ex["table_bytes"] / max(1, facts.get("live_rows", 0) * check.ROW_BYTES)
    if workload == "stream_events":
        b = ex["batch_ms"]
        t, _, _ = tail(b)
        m["stream.batch_p50_ms"], m["stream.batch_tail_ms"] = med(b), t
        m["stream.events_per_s"] = ex["events"] / max(1e-9, sum(b) / 1e3)
    return m


def layer_metrics(workload, res, spans):
    ex = res["extra"]
    warm = [pl for pl in res["pass_layers"] if pl["pass"] >= WARM_FROM]
    m = {k: med([pl[k] for pl in warm]) for k in res["pass_layers"][0] if k != "pass"}
    cold = res["pass_layers"][0]
    m["codegen.cold_units"] = cold["codegen.units"]
    m["codegen.cold_compile_ms"] = cold["codegen.compile_ms"]
    # the alternating passes only: the first warm pass, always traced,
    # still carries JIT compilation
    alt = WARM_FROM + 1
    m["trace.overhead_pct"] = 100 * (med(warm_passes(res, True, alt)) /
                                     med(warm_passes(res, False, alt)) - 1)
    for layer, s in self_times(spans).items():
        m[f"self.{layer}_s"] = s
    if workload == "eth_etl":
        for name in {o["name"] for o in res["ops"]}:
            m[f"EthParity.{name}_s"] = med([o["ms"] / 1e3 for o in res["ops"]
                                            if o["name"] == name and o["pass"] >= WARM_FROM])
        m["EthSources.lines_read"] = m.get("exec.input_records", 0)
        m["EthSources.scan_mb"] = m.get("exec.input_mb", 0)
        m["EthSources.scan_task_s"] = m.get("exec.scan_task_s", 0)
        m["EthSources.rows_kept"] = ex.get("EthSources.rows_kept", 0)
        m["EthSources.keep_ratio"] = ex.get("EthSources.rows_kept", 0) / max(
            1, ex.get("EthSources.lines_offered", 0))
    if workload == "query_mix":
        build = [b["ms"] for b in ex["build_ms"] if b["pass"] >= WARM_FROM]
        n_warm = max(1, len(res["pass_s"]) - WARM_FROM)
        m["SparkEntry.build_ms"] = sum(build) / n_warm
        mods = {n: mod for mod, ns in QUERIES.items() for n in ns}
        for key, pick in (("operators.wall_s", lambda n: mods[n] == "operators"),
                          ("functions.wall_s", lambda n: mods[n] == "functions")):
            m[key] = sum(o["ms"] for o in res["ops"] if o["pass"] >= WARM_FROM and pick(o["name"])) / 1e3 / n_warm
        for f in sorted({family(n) for n in mods}):
            m[f"family.{f}_s"] = sum(o["ms"] for o in res["ops"]
                                     if o["pass"] >= WARM_FROM and family(o["name"]) == f) / 1e3 / n_warm
    if workload == "gseg_churn":
        commits = [c for c in ex["commits"] if c["kind"] != "ctas"]
        by = {k: [o["ms"] for o in res["ops"] if o["kind"] == "commit" and o["name"] == k]
              for k in ("insert", "merge", "update", "delete")}
        for k, xs in by.items():
            m[f"SegDml.{k}_p50_ms"] = med(xs)
        nc = max(1, len(commits))
        ctr = lambda rows, key: sum(r["counters"].get(key, 0) for r in rows)
        m["SegDml.commit_retries"] = ctr(commits, "gseg_commit_retries")
        m["SegDml.files_replaced"] = ctr(commits, "gseg_rlo_replaced_files") / nc
        m["SegDml.files_new"] = ctr(commits, "gseg_rlo_new_files") / nc
        m["SegDml.bytes_written"] = sum(c["bytes_written"] for c in commits) / nc
        comp = [c for c in ex["commits"] if c["kind"] == "compact"]
        m["SegDml.compact_ms"] = med([o["ms"] for o in res["ops"] if o["kind"] == "compact"])
        m["SegDml.compact_rewritten"] = ctr(comp, "gseg_compact_rewritten") / max(1, len(comp))
        vac = ex["maintenance"]
        m["SegDml.vacuum_reclaimed"] = sum(v["reclaimed"] for v in vac) / max(1, len(vac))
        reads = ex["reads"]
        nr = max(1, len(reads))
        total = ctr(reads, "gseg_files_total")
        for key, c in (("files_total", "gseg_files_total"), ("files_skipped", "gseg_files_skipped"),
                       ("bloom_skipped", "gseg_bloom_files_skipped"),
                       ("topn_skipped", "gseg_topn_files_skipped"),
                       ("limit_skipped", "gseg_limit_files_skipped")):
            m[f"SegSource.{key}"] = ctr(reads, c) / nr
        skipped = sum(ctr(reads, c) for c in ("gseg_files_skipped", "gseg_bloom_files_skipped",
                                               "gseg_topn_files_skipped", "gseg_limit_files_skipped"))
        m["SegSource.skip_ratio"] = skipped / max(1, total)
        m["SegSource.bytes_read"] = m.get("exec.input_mb", 0)
        m["SegSource.planning_ms"] = med(ex["planning_ms"])
        m["SegManifest.generations"] = ex["generations"]
        m["SegManifest.files_live"] = ex["files_live"]
        cdf = [r for r in reads if r["kind"] == "cdf"]
        m["SegCdf.diff_files"] = ctr(cdf, "gseg_cdf_diff_files") / max(1, len(cdf))
    if workload == "stream_events":
        prog = [p for p in ex["progress"] if p["input_rows"] > 0]
        for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                  "commitOffsets", "latestOffset", "getBatch"):
            m[f"Streams.{k}_ms"] = med([p["durations"].get(k, 0) for p in prog])
        last = {}
        for p in ex["progress"]:
            last[p["query"]] = p
        m["Streams.state_rows"] = sum(p["state_rows"] for p in last.values())
        m["Streams.state_mb"] = sum(p["state_bytes"] for p in last.values()) / 1e6
        m["Streams.state_commit_ms"] = med([p["state_commit_ms"] for p in prog])
        m["Streams.rows_dropped_late"] = sum(p["dropped_late"] for p in ex["progress"])
        m["Streams.input_rows"] = sum(p["input_rows"] for p in ex["progress"])
    return m


# -------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage one result before the checks")
    a = ap.parse_args()

    classes = jvm.classes_dir()
    in_dir = inputs(a.workload, a.seed, a.tiny)
    work = jvm.BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    names = query_order(a.seed)
    out = work / "out"
    args = ["--workload", a.workload, "--input", in_dir, "--out", out,
            "--passes", n_passes(a.workload, a.seconds), "--warm-from", WARM_FROM,
            "--trace", a.trace]
    if a.workload == "query_mix":
        args += ["--queries", ",".join(names)]
    try:
        t0 = time.monotonic()
        code = jvm.run_driver(classes, work, HEAP, args, JVM_TIMEOUT_S)
        t1 = time.monotonic()
        result_file = out / "result.json"
        if code != 0 or not result_file.exists():
            sys.stderr.write(jvm.log_tail(work))
            raise SystemExit(f"driver exited with {code}")
        res = json.loads(result_file.read_text())
        if a.corrupt:
            corrupt(a.workload, out, res)
        if a.workload == "eth_etl":
            checked, wrong, notes, facts = check.eth(in_dir, out / "eth", len(res["pass_s"]))
        elif a.workload == "query_mix":
            checked, wrong, notes, facts = check.query_mix(in_dir, out / "q", names, res)
        elif a.workload == "gseg_churn":
            checked, wrong, notes, facts = check.gseg(in_dir, res)
        else:
            checked, wrong, notes, facts = check.stream(in_dir, res)
        check_s = time.monotonic() - t1
        spans = []
        if a.trace:
            keep = jvm.BUILD / "traces" / f"{a.workload}-{a.seed}-spans.json"
            keep.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(out / "spans.json", keep)
            spans = json.loads(keep.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = e2e_metrics(res)
    e2e["setup_s"] = res["setup_s"]
    own = workload_metrics(a.workload, res, facts)
    attempted, failed = res["attempted"], res["failed"]
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "passes": len(res["pass_s"]), "pass_s": res["pass_s"], "pass_traced": res["pass_traced"],
        "driver_s": t1 - t0, "check_s": check_s,
        "results_checked": checked, "wrong_results": wrong,
        "failed_frac": failed / max(1, attempted), "host": res["host"],
        "errors": res["errors"], "check_notes": notes[:20]}
    units = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
    for k, v in list(e2e.items()) + list(own.items()):
        unit = units.get(k) or ("ratio" if "amp" in k else "1/s" if k.endswith("_per_s") else "ms")
        print(f"metric {k} {v:.6g} {unit}")
    print(f"metric failed_frac {report['failed_frac']:.6g} ratio")
    print(f"metric wrong_results {wrong} count")
    print("detail " + json.dumps(report))
    if a.trace:
        layers = {**layer_metrics(a.workload, res, spans), **own}
        print("layers " + json.dumps(layers))
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in
                   ((p["name"], layers.get(p["name"], 0.0)) for p in per_layer_spec())}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def corrupt(workload, out, res):
    """Self-test hook: change one value of one result."""
    if workload == "eth_etl":
        f = out / "eth" / "pass0" / "minerTop.txt"
        rows = json.loads(f.read_text())
        rows[0][1] = rows[0][1] + 1.0
        f.write_text(json.dumps(rows))
    elif workload == "query_mix":
        d = min(p for p in (out / "q").iterdir() if p.is_dir())
        import duckdb
        part = next(d.glob("*.parquet"))
        duckdb.sql(f"COPY (SELECT * FROM '{part}' LIMIT 0) TO '{part}.x' (FORMAT PARQUET)")
        os.replace(f"{part}.x", part)
    elif workload == "gseg_churn":
        res["extra"]["final_rows"] = res["extra"]["final_rows"][1:]
    else:
        res["extra"]["tws"][0][1] += 1


def per_layer_spec():
    spec = json.loads((jvm.ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer"]


def per_layer_unit(name):
    return next(p["unit"] for p in per_layer_spec() if p["name"] == name)


if __name__ == "__main__":
    main()
