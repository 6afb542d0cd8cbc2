"""Seeded input generators with known answers, one per workload.

Every generator writes parquet inputs under `out` and returns a manifest
(also written to `out/manifest.json`) holding the expected answers. The
answers follow from the defects the generator plants, never from running
the engine. The same seed gives byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <out-dir>
"""
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000  # microseconds per second
T0_US = 1_704_067_200 * US  # 2024-01-01T00:00:00Z


def write(columns, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, compression="snappy")


def ts_array(us):
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def with_nulls(values, null_rows, typ):
    mask = np.zeros(len(values), dtype=bool)
    mask[null_rows] = True
    return pa.array(values, type=typ, mask=mask)


# --------------------------------------------------------------- dq_gate
#
# A landing is one copy of the sf0.1 star schema (row counts as the
# engine's sf0.1 testdata). Unchanged tables are hard links to one base
# copy; a defect landing rewrites only the tables its defect touches.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DQ_ROWS = {"region": 5, "nation": 25, "supplier": 1000, "customer": 15000,
           "orders": 150000, "lineitem": 600000}
# Timed landings, cycled by the op loop. Each carries out-of-whitelist
# regions, out-of-range prices, bad priorities and null customer keys, so
# every op fails the same checks and costs the same; the seed picks the
# counts and the rows. A "gate" landing has null raw keys and stops at the
# raw gate; it runs once per set-up, after the warm-up landing.
DQ_LANDINGS = 4
GATE_TABLES = {"region": ("raw_region", "r_regionkey"),
               "nation": ("raw_nation", "n_nationkey"),
               "supplier": ("raw_salesperson", "s_suppkey")}
PRICE_HI = 300000.0  # the core suite's o_totalprice upper bound
# The set-up's landings: the same checks and jobs on little data.
# A full-size one warmed no better and cost 2 s more per set-up.
WARM_SCALE = 0.02


def dq_base(rng, n):
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(REGIONS)}
    keys = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": keys,
                   "n_name": np.array([f"NATION_{i}" for i in keys], dtype=object),
                   "n_regionkey": (keys % 5).astype(np.int32)}
    s = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)}
    c = n["customer"]
    t["customer"] = {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array(pick(rng, SEGMENTS, c), type=pa.string())}
    o = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": pick(rng, STATUSES, o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": T0_US - rng.integers(0, 3650, o) * 86400 * US,
        "o_orderpriority": pick(rng, PRIORITIES, o)}
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": pa.array(np.sort(rng.integers(0, o, li)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20000, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(pick(rng, ["A", "N", "R"], li), type=pa.string()),
        "l_linestatus": pa.array(pick(rng, ["F", "O"], li), type=pa.string()),
        "l_shipdate": ts_array(T0_US - rng.integers(0, 3650, li) * 86400 * US)}
    return t


def nation_cols(t, null_rows=()):
    nn = t["nation"]
    return {"n_nationkey": with_nulls(nn["n_nationkey"], list(null_rows), pa.int32()),
            "n_name": pa.array(nn["n_name"], type=pa.string()),
            "n_regionkey": pa.array(nn["n_regionkey"])}


def region_cols(t, null_rows=()):
    r = t["region"]
    return {"r_regionkey": with_nulls(np.arange(5, dtype=np.int32), list(null_rows), pa.int32()),
            "r_name": r["r_name"]}


def supplier_cols(t, null_rows=()):
    s = t["supplier"]
    return {"s_suppkey": with_nulls(s["s_suppkey"], list(null_rows), pa.int64()),
            "s_name": s["s_name"],
            "s_nationkey": pa.array(s["s_nationkey"]),
            "s_acctbal": pa.array(s["s_acctbal"])}


def orders_cols(o, null_cust=()):
    return {"o_orderkey": pa.array(o["o_orderkey"]),
            "o_custkey": with_nulls(o["o_custkey"], list(null_cust), pa.int64()),
            "o_orderstatus": pa.array(o["o_orderstatus"], type=pa.string()),
            "o_totalprice": pa.array(o["o_totalprice"]),
            "o_orderdate": ts_array(o["o_orderdate"]),
            "o_orderpriority": pa.array(o["o_orderpriority"], type=pa.string())}


def core_expected(t, orders, n_null_cust):
    """Per-check (status, unexpected_count) of the core suite; None where
    the check reports no row count. Distribution checks pass by the
    generator's ranges, asserted here so a drifted range fails loudly."""
    c = t["customer"]
    bal = np.asarray(c["c_acctbal"])
    assert 1000 <= np.median(bal) <= 8000 and np.quantile(bal, 0.95) >= 9000
    assert 1000 <= bal.mean() <= 8000
    machinery = int((np.asarray(c["c_mktsegment"]) == "MACHINERY").sum())
    price = orders["o_totalprice"]
    status = orders["o_orderstatus"]
    out_of_range = int(((price < 0) | (price > PRICE_HI)).sum())
    assert out_of_range / len(price) < 0.5  # within the suite's mostly=0.5
    neg_final = int(((price < 0) & (status == "F")).sum())
    prio, counts = np.unique(orders["o_orderpriority"], return_counts=True)
    bad_prio = int(sum(k for p, k in zip(prio, counts)
                       if not re.fullmatch(r"[1-5]-[A-Z ]+", p)))

    def cnt(n):
        return ["PASSED" if n == 0 else "FAILED", n]

    return {
        "orders.row_count_between": ["PASSED", None],
        "orders.not_null:o_custkey": cnt(n_null_cust),
        "orders.in_set:o_orderstatus": cnt(0),
        "orders.regex:o_orderpriority": cnt(bad_prio),
        "orders.between:o_totalprice": ["PASSED", out_of_range],
        "orders.between:o_totalprice:where:o_orderstatus = 'F'": cnt(neg_final),
        "customer.not_null:c_custkey": cnt(0),
        "customer.proportion_unique:c_custkey": ["PASSED", None],
        "customer.in_set:c_mktsegment": cnt(machinery),
        "customer.between:c_acctbal": cnt(0),
        "customer.value_length:c_name": cnt(0),
        "customer.distinct_count:c_mktsegment": ["PASSED", None],
        "customer.distinct_count_approx:c_mktsegment": ["PASSED", None],
        "customer.quantile_approx:c_acctbal:0.5": ["PASSED", None],
        "customer.agg_bounds:mean:c_acctbal": ["PASSED", None],
        "customer.quantile:c_acctbal:0.5": ["PASSED", None],
        "customer.quantile:c_acctbal:0.95": ["PASSED", None],
        "lineitem.pair_greater:l_extendedprice>l_quantity": cnt(0),
        "lineitem.between:l_discount": cnt(0),
    }


def dq_landings(out, rng, scale, kinds, prefix):
    """One base copy of the star schema at `scale` × sf0.1 row counts and
    one landing per kind, named `<prefix><i>`."""
    rows = {k: max(5, int(v * scale)) if v > 25 else v for k, v in DQ_ROWS.items()}
    t = dq_base(rng, rows)
    base = os.path.join(out, f"base-{prefix}")
    write(region_cols(t), f"{base}/region.parquet")
    write(nation_cols(t), f"{base}/nation.parquet")
    write(supplier_cols(t), f"{base}/supplier.parquet")
    write(t["customer"], f"{base}/customer.parquet")
    write(orders_cols(t["orders"]), f"{base}/orders.parquet")
    write(t["lineitem"], f"{base}/lineitem.parquet")
    clean_core = core_expected(t, t["orders"], 0)

    def landing(name, kind):
        d = os.path.join(out, "landings", name)
        os.makedirs(d)
        exp = {"name": name, "dir": d, "kind": kind, "gate": {},
               "whitelist_bad": 0, "core": clean_core, "orders_rows": rows["orders"],
               "rows": sum(rows.values())}
        written = set()
        if kind == "gate":
            table = ["region", "nation", "supplier"][rng.integers(0, 3)]
            k = int(rng.integers(1, 4))
            null_rows = rng.choice(rows[table], k, replace=False)
            cols = {"region": region_cols, "nation": nation_cols,
                    "supplier": supplier_cols}[table](t, null_rows)
            write(cols, f"{d}/{table}.parquet")
            written.add(table)
            check, key = GATE_TABLES[table]
            exp["gate"] = {f"{check}.not_null:{key}": k}
            exp["rows"] = sum(rows[x] for x in GATE_TABLES)
        else:
            k = int(rng.integers(1, 4))
            cols = nation_cols(t)
            names = t["nation"]["n_name"].copy()
            for j, r in enumerate(rng.choice(25, k, replace=False)):
                names[r] = f"NATION_Z{j}"
            cols["n_name"] = pa.array(names, type=pa.string())
            write(cols, f"{d}/nation.parquet")
            written.add("nation")
            exp["whitelist_bad"] = k
            o = dict(t["orders"])
            n = rows["orders"]
            price = o["o_totalprice"].copy()
            neg = rng.choice(n, int(rng.integers(20, 61)), replace=False)
            price[neg] = -np.round(rng.uniform(1.0, 1000.0, len(neg)), 2)
            prio = o["o_orderpriority"].copy()
            prio[rng.choice(n, int(rng.integers(5, 41)), replace=False)] = "9-bogus"
            null_cust = rng.choice(n, int(rng.integers(1, 11)), replace=False)
            o["o_totalprice"], o["o_orderpriority"] = price, prio
            write(orders_cols(o, null_cust), f"{d}/orders.parquet")
            written.add("orders")
            exp["core"] = core_expected(t, o, len(null_cust))
        for table in DQ_ROWS:
            if table not in written:
                os.link(f"{base}/{table}.parquet", f"{d}/{table}.parquet")
        return exp

    return [landing(f"{prefix}{i}", k) for i, k in enumerate(kinds)]


def gen_dq_gate(out, seed):
    rng = np.random.default_rng([seed, 1])
    warm, gate = dq_landings(out, rng, WARM_SCALE, ["defects", "gate"], "W")
    return {"workload": "dq_gate", "seed": seed,
            "whitelist": [f"NATION_{i}" for i in range(25)],
            "landings": dq_landings(out, rng, 1.0, ["defects"] * DQ_LANDINGS, "L"),
            "warmup": warm, "gate": gate}


# -------------------------------------------------------------- curation
#
# A corpus shaped like the testdata's documents.parquet (doc_id, text,
# lang, source, n_chars): random word sequences over a fixed vocabulary,
# with planted exact duplicates, near duplicates, PII and benchmark
# contamination at fixed rates and seeded positions.

CUR_DOCS = 2000
CUR_WARM_DOCS = 300
CUR_RATES = {"exact": 0.05, "near": 0.05, "contam": 0.02, "pii": 0.06}
TESTDATA_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()


def vocabulary():
    onsets = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
    vowels = ["a", "e", "i", "o", "u"]
    codas = ["", "n", "r", "s", "x"]
    syl = [o + v + c for o in onsets for v in vowels for c in codas]  # 350
    words = {a + b for a in syl[:60] for b in syl[100:120]}  # 1200
    return sorted(words | set(TESTDATA_WORDS))


def corpus(out, rng, n):
    """A corpus of `n` documents plus its benchmark set under `out`, with
    the census its curated output must have."""
    vocab = np.asarray(vocabulary(), dtype=object)

    def words(k):
        return list(vocab[rng.integers(0, len(vocab), k)])

    n_exact, n_near = int(n * CUR_RATES["exact"]), int(n * CUR_RATES["near"])
    n_contam, n_pii = int(n * CUR_RATES["contam"]), int(n * CUR_RATES["pii"])
    n_base = n - n_exact - n_near
    bench = [" ".join(words(20)) for _ in range(n_contam + 10)]
    # docs: (text, family); a family keeps its lowest doc_id, drops the rest
    docs = [(" ".join(words(int(rng.integers(30, 81)))), f) for f in range(n_base)]
    roles = rng.permutation(n_base)
    exact_src = roles[:n_exact]
    near_src = roles[n_exact:n_exact + n_near]
    contam = roles[n_exact + n_near:n_exact + n_near + n_contam]
    pii = roles[n_exact + n_near + n_contam:n_exact + n_near + n_contam + n_pii]
    pii_kind = {}
    for j, f in enumerate(contam):
        w = docs[f][0].split()
        cut = int(rng.integers(0, len(w)))
        docs[f] = (" ".join(w[:cut] + [bench[j]] + w[cut:]), f)
    for j, f in enumerate(pii):
        kind = ["email", "phone", "ipv4"][j % 3]
        token = {"email": f"user{j}.x@mail{j % 7}.example.com",
                 "phone": f"{200 + j:03d}-{rng.integers(100, 1000)}-{rng.integers(1000, 10000)}",
                 "ipv4": f"10.{j % 250}.{rng.integers(0, 256)}.{rng.integers(1, 255)}"}[kind]
        w = docs[f][0].split()
        w.insert(int(rng.integers(0, len(w) + 1)), token)
        docs[f] = (" ".join(w), f)
        pii_kind[f] = kind
    for f in exact_src:  # case and spacing differ; normText folds both
        docs.append(("  " + docs[f][0].upper().replace(" ", "   ") + " ", f))
    for f in near_src:  # last word swapped: 3-gram Jaccard stays above 0.9
        w = docs[f][0].split()
        w[-1] = "zzzz" + w[-1]
        docs.append((" ".join(w), f))
    order = rng.permutation(len(docs))  # doc_id = position after shuffle
    texts = [docs[i][0] for i in order]
    fams = np.asarray([docs[i][1] for i in order])
    first = {}
    for doc_id, f in enumerate(fams):
        first.setdefault(int(f), doc_id)
    contam_set = set(int(f) for f in contam)
    survivors = sorted(d for f, d in first.items() if f not in contam_set)
    census = {"rows": len(survivors), "sum_ids": int(sum(survivors)),
              "email": 0, "phone": 0, "ipv4": 0}
    for f, kind in pii_kind.items():
        census[kind] += 1
    write({"doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
           "text": pa.array(texts, type=pa.string()),
           "lang": pa.array(pick(rng, ["en", "en", "en", "de", "zh"], len(texts)),
                            type=pa.string()),
           "source": pa.array([f"src{i % 4}" for i in range(len(texts))]),
           "n_chars": pa.array(np.asarray([len(x) for x in texts], dtype=np.int64))},
          f"{out}/documents.parquet")
    write({"bench_id": pa.array(np.arange(len(bench), dtype=np.int64)),
           "text": pa.array(bench, type=pa.string())},
          f"{out}/benchmark.parquet")
    return {"dir": out, "rows": len(texts), "census": census}


def gen_curation(out, seed):
    rng = np.random.default_rng([seed, 2])
    return {"workload": "curation", "seed": seed,
            "corpus": corpus(f"{out}/corpus", rng, CUR_DOCS),
            "warmup": corpus(f"{out}/warm", rng, CUR_WARM_DOCS)}


# ---------------------------------------------------------- stream_suite
#
# A replay of an events table as one parquet file per trigger. File i
# covers event time [i, i+1) minutes in shuffled order, plus late rows:
# some inside the 2-minute watermark (counted) and some ten minutes back,
# whose windows are already final (dropped). Seeded null user_id and
# negative value rows fail the per-window checks.

STREAM_FILES = 240
STREAM_ROWS = 2500
STREAM_WARM_FILES = 4
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WINDOW_S = 60
WATERMARK_S = 120


def stream_file(rng, i, t0_us, late=True):
    start = t0_us + i * WINDOW_S * US
    n = STREAM_ROWS
    ts = start + rng.integers(0, WINDOW_S * US, n)
    user = rng.integers(0, 5000, n).astype(np.int64)
    value = np.round(rng.uniform(0.0, 500.0, n), 2)
    nulls = rng.choice(n, int(rng.integers(0, 8)), replace=False)
    negs = rng.choice(n, int(rng.integers(0, 8)), replace=False)
    value[negs] = -value[negs] - 0.01
    n_in = int(rng.integers(5, 26)) if late and i >= 2 else 0
    n_out = int(rng.integers(5, 26)) if late and i >= 12 else 0
    ts_in = start - rng.integers(15 * US, 45 * US, n_in)
    ts_out = start - rng.integers(540 * US, 600 * US, n_out)
    all_ts = np.concatenate([ts, ts_in, ts_out])
    all_user = np.concatenate([user, rng.integers(0, 5000, n_in + n_out)])
    all_val = np.concatenate([value, np.round(rng.uniform(0, 500, n_in + n_out), 2)])
    null_mask = np.zeros(len(all_ts), dtype=bool)
    null_mask[nulls] = True
    kept = np.ones(len(all_ts), dtype=bool)
    kept[n + n_in:] = False  # beyond the watermark: dropped
    perm = rng.permutation(len(all_ts))  # out of order within the file
    cols = {"event_id": pa.array(np.arange(len(all_ts), dtype=np.int64) + i * 10_000_000),
            "ts": ts_array(all_ts[perm]),
            "user_id": pa.array(all_user[perm], mask=null_mask[perm]),
            "event_type": pa.array(pick(rng, EVENT_TYPES, len(all_ts)), type=pa.string()),
            "value": pa.array(all_val[perm]),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, len(all_ts))])}
    win = (all_ts - t0_us) // (WINDOW_S * US)
    contrib = {}
    for w in np.unique(win[kept]):
        sel = kept & (win == w)
        contrib[str(int(t0_us // US + w * WINDOW_S))] = [
            int(sel.sum()), int((sel & null_mask).sum()), int((sel & (all_val < 0)).sum())]
    return cols, {"rows": len(all_ts), "windows": contrib}


def gen_stream_suite(out, seed):
    rng = np.random.default_rng([seed, 3])
    files = []
    for i in range(STREAM_FILES):
        cols, meta = stream_file(rng, i, T0_US)
        meta["path"] = f"{out}/stream/staging/part-{i:05d}.parquet"
        write(cols, meta["path"])
        files.append(meta)
    end_us = T0_US + (STREAM_FILES + 2) * WINDOW_S * US
    # A far-future row pushes the watermark past every replayed window; the
    # no-data batch that follows emits them. Its own window stays open.
    flush = [f"{out}/stream/flush/flush-0.parquet"]
    write({"event_id": pa.array([-1], type=pa.int64()), "ts": ts_array([end_us + 86400 * US]),
           "user_id": pa.array([0], type=pa.int64()), "event_type": pa.array(["view"]),
           "value": pa.array([1.0]), "props": pa.array(["{}"])}, flush[0])
    warm = []
    for i in range(STREAM_WARM_FILES):
        cols, _ = stream_file(rng, i, T0_US - 86400 * US, late=False)
        path = f"{out}/stream/warm/part-{i:05d}.parquet"
        write(cols, path)
        warm.append(path)
    return {"workload": "stream_suite", "seed": seed, "window": f"{WINDOW_S} seconds",
            "watermark": f"{WATERMARK_S} seconds", "files": files, "flush": flush,
            "warm": warm}


GENERATORS = {"dq_gate": gen_dq_gate, "curation": gen_curation,
              "stream_suite": gen_stream_suite}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](os.path.abspath(out), seed)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
