"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments; the
caller caches the output directory per (workload, seed, size).
"""
import bisect
import json
import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd

HEX = np.array(list("0123456789abcdef"))


def _hex(rng, n, width):
    return ["0x" + "".join(r) for r in HEX[rng.integers(0, 16, size=(n, width))]]


def _zipf_index(rng, n, size, a=1.2):
    """Zipf-skewed indices into a pool of `n` items (rank 0 hottest)."""
    return (rng.zipf(a, size=size) - 1) % n


# ---------------------------------------------------------------- eth_etl
ETH_T0 = int(datetime(2015, 8, 7, tzinfo=timezone.utc).timestamp())
ETH_T1 = int(datetime(2019, 7, 1, tzinfo=timezone.utc).timestamp())


def eth(out, seed, n_tx, n_blocks):
    """ethereum-etl-shaped inputs for the six EthParity jobs.

    Block times follow chain growth (later months denser); to_address
    and miner are Zipf-skewed; about 2% of lines carry one of the
    good_line reject species (wrong arity, unparseable value, timestamp
    or gas price, missing 0x prefix, empty miner, header line)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    contracts = _hex(rng, 1500, 40)
    eoas = _hex(rng, 20000, 40)
    senders = _hex(rng, 5000, 40)

    ts = (ETH_T0 + (ETH_T1 - ETH_T0) * np.sqrt(rng.random(n_tx))).astype(np.int64)
    to_contract = rng.random(n_tx) < 0.4
    ci = _zipf_index(rng, len(contracts), n_tx)
    ei = _zipf_index(rng, len(eoas), n_tx, 1.1)
    to = np.where(to_contract, np.array(contracts)[ci], np.array(eoas)[ei])
    frm = np.array(senders)[rng.integers(0, len(senders), n_tx)]
    value = (rng.lognormal(40, 3, n_tx)).astype(np.float64)
    gas = rng.integers(21000, 500000, n_tx)
    gas_price = rng.integers(1, 200, n_tx) * 1_000_000_000
    block = ((ts - ETH_T0) // 15).astype(np.int64)
    txh = _hex(rng, n_tx, 64)
    lines = [f"{txh[i]},{i % 97},0xb{block[i]:x},{block[i]},{i % 200},{frm[i]},"
             f"{to[i]},{value[i]:.0f},{gas[i]},{gas_price[i]},0x,{ts[i]},,,0"
             for i in range(n_tx)]
    bad = rng.random(n_tx) < 0.02
    species = rng.integers(0, 7, n_tx)
    for i in np.nonzero(bad)[0]:
        f = lines[i].split(",")
        s = species[i]
        if s == 0:
            lines[i] = ",".join(f[:9])                 # short row
        elif s == 1:
            lines[i] = lines[i] + ",extra"             # 16 fields
        elif s == 2:
            f[7] = "0x1f"; lines[i] = ",".join(f)      # value unparseable
        elif s == 3:
            f[11] = "pending"; lines[i] = ",".join(f)  # timestamp unparseable
        elif s == 4:
            f[9] = ""; lines[i] = ",".join(f)          # gas price missing
        elif s == 5:
            f[6] = ""; lines[i] = ",".join(f)          # contract creation: no to
        else:
            f[6] = f[6][2:]; lines[i] = ",".join(f)    # address without 0x
    header = ("hash,nonce,block_hash,block_number,transaction_index,from_address,"
              "to_address,value,gas,gas_price,input,block_timestamp,"
              "max_fee_per_gas,max_priority_fee_per_gas,transaction_type")
    with open(f"{out}/transactions.csv", "w") as f:
        f.write(header + "\n" + "\n".join(lines) + "\n")

    miners = _hex(rng, 300, 40)
    mi = _zipf_index(rng, len(miners), n_blocks, 1.5)
    bts = np.sort(ETH_T0 + (ETH_T1 - ETH_T0) * np.sqrt(rng.random(n_blocks))).astype(np.int64)
    size = rng.integers(500, 60000, n_blocks)
    hexes = [_hex(rng, n_blocks, w) for w in (64, 512, 64, 64, 64)]
    blines = []
    for i in range(n_blocks):
        blines.append(
            f"{i},0xh{i:x},0xp{i:x},0x0,{hexes[0][i]},{hexes[1][i]},{hexes[2][i]},"
            f"{hexes[3][i]},{hexes[4][i]},{miners[mi[i]]},1,2,{size[i]},0x,"
            f"8000000,{size[i] * 7},{bts[i]},{i % 300},0")
    bad = rng.random(n_blocks) < 0.02
    species = rng.integers(0, 4, n_blocks)
    for i in np.nonzero(bad)[0]:
        f = blines[i].split(",")
        s = species[i]
        if s == 0:
            blines[i] = ",".join(f[:12])               # short row
        elif s == 1:
            f[12] = "n/a"; blines[i] = ",".join(f)     # size unparseable
        elif s == 2:
            f[0] = "x" + f[0]; blines[i] = ",".join(f)  # number unparseable
        else:
            f[9] = ""; blines[i] = ",".join(f)         # empty miner
    with open(f"{out}/blocks.csv", "w") as f:
        f.write("\n".join(blines) + "\n")

    clines = [f"{a},0x6080,sig,{'true' if j % 5 == 0 else 'false'},false,{j}"
              for j, a in enumerate(contracts)]
    clines += [clines[j] for j in range(0, 60, 3)]     # duplicate rows multiply
    clines += [f"{contracts[j][2:]},0x6080,sig,false,false,{j}" for j in range(5)]
    clines += ["0xdead,short"]
    with open(f"{out}/contracts.csv", "w") as f:
        f.write("\n".join(clines) + "\n")

    cats = ["Phishing", "Scamming", "Fake ICO", "Hacking"]
    scams = {}
    for k in range(200):
        pool = contracts if k % 3 == 0 else eoas
        addrs = [pool[int(j)] for j in _zipf_index(rng, 200, rng.integers(1, 4), 1.3)]
        scams[str(1000 + k)] = {"id": 1000 + k, "addresses": addrs,
                                "status": "Active" if k % 4 else "Offline",
                                "category": cats[k % len(cats)]}
    with open(f"{out}/scams.json", "w") as f:
        f.write(json.dumps({"result": scams, "success": True}))
    with open(f"{out}/contractsTop10.csv", "w") as f:
        f.write(",Addresses,Value\n")
        f.write("".join(f"{i},{contracts[i]},{1e21 / (i + 1):.1f}\n" for i in range(10)))


# -------------------------------------------------------------- query_mix
WORDS = ("a the data spark query table row column key value join agg sort hash "
         "scan filter group order window stream batch merge part line customer "
         "vector fast slow big small").split()


def tables(out, seed, sf):
    """TPC-H-ish star schema plus events, documents and embeddings, with
    the column names and parquet types the engine's Tables loaders
    read; `sf` scales row counts like the repo's sf directories."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def save(name, cols):
        pd.DataFrame(cols).to_parquet(f"{out}/{name}.parquet", index=False)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        d0 = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - d0).astype(np.int64)
        return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions})
    save("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    save("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                      "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                      "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                      "c_acctbal": money(-999.99, 9999.99, n_cust),
                      "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    save("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                      "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                      "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                      "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["small", "large", "red", "blue", "hot", "cold", "old"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    save("part", {"p_partkey": pk,
                  "p_name": np.char.add(np.char.add(adj[rng.integers(0, 7, n_part)], " "),
                                        noun[rng.integers(0, 7, n_part)]),
                  "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                  "p_type": types[rng.integers(0, 6, n_part)],
                  "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                  "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    save("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                    "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                    "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
                    "o_totalprice": money(1000, 500000, n_ord),
                    "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
                    "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_li)
    save("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                      "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                      "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                      "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                      "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                      "l_extendedprice": money(900, 105000, n_li),
                      "l_discount": rng.integers(0, 11, n_li) / 100.0,
                      "l_tax": rng.integers(0, 9, n_li) / 100.0,
                      "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
                      "l_linestatus": np.array(["O", "F"])[flags % 2],
                      "l_shipdate": days("1995-01-02", "2001-11-04", n_li)})
    n_ev, n_users = int(1000000 * sf), max(20, int(15000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    save("events", {"event_id": np.arange(n_ev, dtype=np.int64), "ts": ev_ts,
                    "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                    "event_type": np.array(["signup", "click", "error", "view", "purchase"])
                    [rng.integers(0, 5, n_ev)],
                    "value": money(0, 560, n_ev),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_docs = int(50000 * sf)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 80))])
             for _ in range(n_docs)]
    for i in range(0, n_docs, 50):              # near-duplicate pairs
        if i + 1 < n_docs:
            texts[i + 1] = texts[i] + " " + words[i % len(words)]
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
    save("documents", {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
                       "lang": langs[rng.integers(0, len(langs), n_docs)],
                       "source": [f"src{i % 20}" for i in range(n_docs)],
                       "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec = int(50000 * sf)
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {"vec_id": np.arange(n_vec, dtype=np.int64),
                        "embedding": list(emb), "label": labels.astype(np.int32)})


# ------------------------------------------------------------- gseg_churn
# One block of the churn log: these thirteen statements in a seeded order,
# then CALL compact and CALL vacuum. Each measured pass runs one block, so
# every pass does the same work apart from keys and ranges.
GSEG_BLOCK = ["insert", "merge", "update", "delete", "point", "point", "range",
              "bloom", "topn", "limit", "agg", "travel", "cdf"]
GSEG_INSERT_ROWS = 120
GSEG_MERGE_ROWS = 60    # half of them target live keys, half are new
GSEG_RECENT = 0.10      # share of the key space counted as "recent"
GSEG_RECENT_BIAS = 0.7  # share of targeted writes/lookups aimed at recent keys
COLS = "k, grp, price, tag"


def gseg(out, seed, n_base, n_blocks):
    """Base table (CTAS source) plus a churn log of DML, reads and
    maintenance. Keys are unique; the generator tracks the live key set
    so every targeted op hits real keys."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    keys = np.arange(n_base, dtype=np.int64) * 2
    base = pd.DataFrame({"k": keys,
                         "grp": rng.integers(0, 50, n_base).astype(np.int32),
                         "price": money_cents(rng, n_base),
                         "tag": [f"t{x:07d}" for x in rng.integers(0, 10**7, n_base)]})
    base.to_parquet(f"{out}/base.parquet", index=False)
    live = dict(zip(base.k.tolist(), base.tag.tolist()))
    order = keys.tolist()                              # live keys, ascending
    hot = rng.permutation(keys)
    next_key = int(keys[-1]) + 2
    ops = [{"kind": "ctas", "spark":
            f"CREATE TABLE gseg.db.t USING gseg OPTIONS ('bloom_columns' = 'tag') AS "
            f"SELECT /*+ REPARTITION_BY_RANGE(8, k) */ {COLS} FROM base_rows"}]
    n_commits = 1

    def target():
        if rng.random() < GSEG_RECENT_BIAS:
            lo = int(len(order) * (1 - GSEG_RECENT))
            return order[rng.integers(lo, len(order))]
        k = int(hot[_zipf_index(rng, len(hot), 1)[0]])
        return k if k in live else order[rng.integers(0, len(order))]

    def add(rows):
        for r in rows:
            if r[0] not in live:
                live[r[0]] = r[3]
                order.append(r[0])                     # new keys are the largest

    def rows_sql(rows):
        return ", ".join(f"(CAST({k} AS BIGINT), {g}, CAST({p:.2f} AS DOUBLE), '{t}')"
                         for k, g, p, t in rows)

    plan = []
    for b in range(n_blocks):
        plan += [str(k) for k in rng.permutation(GSEG_BLOCK)]
        plan += ["compact", "vacuum"]
    for kind in plan:
        if kind == "compact":
            ops.append({"kind": "compact",
                        "spark": "CALL gseg.compact('db.t', 4)"})
            n_commits += 1
            continue
        if kind == "vacuum":
            ops.append({"kind": "vacuum", "spark": "CALL gseg.vacuum('db.t', 8)"})
            continue
        if kind in ("travel", "cdf") and n_commits < 2:
            kind = "agg"                               # nothing to go back to yet
        op = {"kind": kind}
        if kind == "insert":
            n = GSEG_INSERT_ROWS
            rows = [(next_key + 2 * j, int(rng.integers(0, 50)), float(money_cents(rng, 1)[0]),
                     f"t{int(rng.integers(0, 10**7)):07d}") for j in range(n)]
            next_key += 2 * n
            op["rows"] = rows
            op["spark"] = f"INSERT INTO gseg.db.t VALUES {rows_sql(rows)}"
            add(rows)
        elif kind == "merge":
            n = GSEG_MERGE_ROWS
            rows = []
            for j in range(n):
                if j % 2 == 0:
                    k = target()
                else:
                    k = next_key; next_key += 2
                rows.append((k, int(rng.integers(0, 50)), float(money_cents(rng, 1)[0]),
                             f"t{int(rng.integers(0, 10**7)):07d}"))
            rows = list({r[0]: r for r in rows}.values())
            op["rows"] = rows
            op["spark"] = (
                f"MERGE INTO gseg.db.t t USING (SELECT * FROM VALUES {rows_sql(rows)} "
                f"AS s({COLS})) s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET grp = s.grp, price = s.price "
                f"WHEN NOT MATCHED THEN INSERT ({COLS}) VALUES (s.k, s.grp, s.price, s.tag)")
            add(rows)
        elif kind in ("update", "delete", "range"):
            a = target()
            width = {"update": 60, "delete": 30, "range": 400}[kind]
            b = a + 2 * int(rng.integers(1, width))
            op["a"], op["b"] = a, b
            if kind == "update":
                op["spark"] = ("UPDATE gseg.db.t SET price = price + 1.25, grp = grp + 1 "
                               f"WHERE k BETWEEN {a} AND {b}")
            elif kind == "delete":
                op["spark"] = f"DELETE FROM gseg.db.t WHERE k BETWEEN {a} AND {b}"
                lo, hi = bisect.bisect_left(order, a), bisect.bisect_right(order, b)
                for k in order[lo:hi]:
                    del live[k]
                del order[lo:hi]
            else:
                op["spark"] = f"SELECT {COLS} FROM gseg.db.t WHERE k BETWEEN {a} AND {b}"
        elif kind == "point":
            op["a"] = target()
            op["spark"] = f"SELECT {COLS} FROM gseg.db.t WHERE k = {op['a']}"
        elif kind == "bloom":
            tag = live[target()] if rng.random() < 0.7 else f"t{int(rng.integers(0, 10**7)):07d}x"
            op["tag"] = tag
            op["spark"] = f"SELECT {COLS} FROM gseg.db.t WHERE tag = '{tag}'"
        elif kind == "topn":
            op["spark"] = f"SELECT {COLS} FROM gseg.db.t ORDER BY price DESC, k ASC LIMIT 10"
        elif kind == "limit":
            op["spark"] = f"SELECT {COLS} FROM gseg.db.t LIMIT 20"
        elif kind == "agg":
            op["spark"] = "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM gseg.db.t"
        elif kind == "travel":
            op["back"] = int(rng.integers(1, min(4, n_commits)))
            op["spark"] = ("SELECT count(*) AS n, "
                           "CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS s, "
                           "min(k) AS mn, max(k) AS mx FROM gseg.db.t VERSION AS OF {gen}")
        elif kind == "cdf":
            op["back"] = int(rng.integers(1, min(4, n_commits)))
        if kind in ("insert", "merge", "update", "delete"):
            n_commits += 1
        ops.append(op)
    with open(f"{out}/ops.jsonl", "w") as f:
        for i, op in enumerate(ops):
            f.write(json.dumps(dict(op, i=i)) + "\n")
    with open(f"{out}/meta.json", "w") as f:
        json.dump({"ops_per_pass": len(GSEG_BLOCK) + 2, "n_base": n_base}, f)


def money_cents(rng, n):
    return rng.integers(100, 100000, n) / 100.0


# ---------------------------------------------------------- stream_events
STREAM_CHUNK_MIN = 20      # event-time span of one chunk, minutes
STREAM_OOO = 0.07          # share of events from the previous 15 minutes
STREAM_LATE = 0.03         # share of events 3-4 hours behind (dropped)


def stream(out, seed, n_chunks, rows, users, chunks_per_pass):
    """Event chunks in landing order. Within a chunk events are
    shuffled; STREAM_OOO of them belong to the 15 minutes before the
    chunk (out of order but inside the 30-minute watermark) and, from
    the second chunk on, STREAM_LATE of them are 3-4 hours behind (past
    the watermark, so the windowed operators drop them)."""
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/chunks", exist_ok=True)
    t0 = np.datetime64("2024-03-01T00:00:00", "us")
    span = STREAM_CHUNK_MIN * 60 * 10**6
    types = np.array(["signup", "click", "error", "view", "purchase"])
    eid = 0
    chunk_rows = []
    for c in range(n_chunks):
        start = c * span
        off = rng.integers(0, span, rows)
        kind = rng.random(rows)
        ooo = kind < STREAM_OOO
        off[ooo] = -rng.integers(1, 15 * 60 * 10**6, int(ooo.sum()))
        if c > 0:
            late = kind > 1 - STREAM_LATE
            off[late] = -rng.integers(3 * 3600 * 10**6, 4 * 3600 * 10**6, int(late.sum()))
        ts = pd.Series(t0 + (start + off).astype("timedelta64[us]")).dt.tz_localize("UTC")
        df = pd.DataFrame({"event_id": np.arange(eid, eid + rows, dtype=np.int64), "ts": ts,
                           "user_id": _zipf_index(rng, users, rows, 1.1).astype(np.int64),
                           "event_type": types[rng.integers(0, 5, rows)],
                           "value": money_cents(rng, rows),
                           "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]})
        eid += rows
        df.to_parquet(f"{out}/chunks/chunk-{c:05d}.parquet", index=False)
        chunk_rows.append(rows)
    end = np.array([t0 + np.timedelta64(n_chunks * span + 86400 * 10**6, "us")])
    flush = pd.DataFrame({"event_id": [eid], "ts": pd.Series(end).dt.tz_localize("UTC"),
                          "user_id": np.array([-1], dtype=np.int64), "event_type": ["flush"],
                          "value": [0.0], "props": ['{"k": 0}']})
    flush.to_parquet(f"{out}/flush.parquet", index=False)
    with open(f"{out}/meta.json", "w") as f:
        json.dump({"chunks_per_pass": chunks_per_pass, "chunk_rows": chunk_rows}, f)
