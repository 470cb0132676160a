"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from one integer
seed: the same seed gives byte-identical inputs.

* ``tables(seed, out_dir, scale)`` writes the ten parquet tables of the
  synthetic star schema (region ... lineitem, events, documents,
  embeddings) with the column names and types of the engine's test
  tables and their value distributions: row counts, per-column ranges,
  distinct counts and value frequencies, and the oracles' output row
  counts were compared at scale 0.01 (see README.md, "Inputs"). As in
  those tables, lineitem keys and dates are drawn independently of
  orders. ``scale`` plays the role of the TPC-H scale factor for the
  fact tables.
* ``road_network(seed, path, nodes)`` writes a road-network edge list in
  the Shenzhen CSV schema (XCoord, YCoord, START_NODE, END_NODE, EDGE,
  LENGTH) with the quirks the ingest must handle: padding rows, exact
  duplicate rows, parallel edges, dangling END_NODE rows and about half
  of the edges present in both directions. The anchor pair 2022 -> 2802
  exists and 2802 is reachable from 2022.
"""
import csv
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANCHOR_SRC, ANCHOR_DST = "2022", "2802"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

DAY_US = 86_400_000_000


def _days(rng, n, first, last):
    """n random midnights between two ISO dates (inclusive), as datetime64[us]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def tables(seed, out_dir, scale):
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = 4 * n_ord
    n_events = max(int(1_000_000 * scale), 1000)
    n_users = max(int(15_000 * scale), 50)
    n_docs = max(int(50_000 * scale), 500)
    n_vecs = max(int(50_000 * scale), 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2)),
        # rounded uniforms, so the end values 0.0, 0.10 and 0.08 are half
        # as frequent as the others, as in the engine's test tables
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"))})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
        "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n_events), 0.01), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s)})

    # about 5% of documents repeat an earlier one with " dup" appended
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vec = rng.standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)})


def road_network(seed, path, nodes, n_pairs):
    """Jittered-grid road network; returns its counts for the report and
    ``n_pairs`` seeded (source, target) pairs, the anchor pair first.

    Node ids are distinct integers in [1000, 1000 + 3 * nodes), so the
    anchors are forced in by renaming the two grid corners. Edge LENGTH is
    the Euclidean distance times a factor >= 1, which keeps the A*
    heuristic admissible.
    """
    rng = np.random.default_rng([seed, 2])
    side = int(math.ceil(math.sqrt(nodes)))
    ids = [str(v) for v in rng.choice(np.arange(1000, 1000 + 3 * nodes),
                                      side * side, replace=False)]
    # the anchors sit at opposite corners: the farthest pair of the grid
    for spare, anchor in enumerate((ANCHOR_SRC, ANCHOR_DST)):
        if anchor in ids:
            ids[ids.index(anchor)] = str(998 + spare)
    ids[0], ids[-1] = ANCHOR_SRC, ANCHOR_DST
    x0, y0, step = 168_900.0, 2_479_600.0, 150.0
    xy = [(x0 + (k % side) * step + rng.uniform(-40, 40),
           y0 + (k // side) * step + rng.uniform(-40, 40))
          for k in range(side * side)]

    def length(a, b):
        d = math.dist(xy[a], xy[b])
        return round(d * rng.uniform(1.0, 1.3) + 0.001, 6)

    rows, road = [], 0

    def edge(a, b):
        nonlocal road
        road += 1
        rows.append((a, ids[b], f"R{road}", length(a, b)))

    for k in range(side * side):
        r, c = divmod(k, side)
        for nb in ((r, c + 1), (r + 1, c)):
            if nb[0] >= side or nb[1] >= side:
                continue
            j = nb[0] * side + nb[1]
            # forward edges (right, down) reach every node from the 2022
            # corner; about half also run backwards, and those into the last
            # corner always do: with no out-edge it would be no START_NODE,
            # and the ingest would drop it as dangling
            edge(k, j)
            if rng.random() < 0.5 or j == side * side - 1:
                edge(j, k)
        if rng.random() < 0.05 and k + side + 1 < side * side and c + 1 < side:
            edge(k, k + side + 1)  # a diagonal shortcut
    n_parallel = len(rows) // 20
    for a, dst, _, _ in [rows[i] for i in rng.choice(len(rows), n_parallel, replace=False)]:
        road += 1
        rows.append((a, dst, f"R{road}", length(a, ids.index(dst)) + 5.0))
    dups = [rows[i] for i in rng.choice(len(rows), len(rows) // 50, replace=False)]
    rows.extend(dups)
    dangling = []
    for i in rng.choice(side * side, max(side // 2, 3), replace=False):
        road += 1
        dangling.append((int(i), f"9{int(rng.integers(10**6, 10**7))}", f"R{road}",
                         round(rng.uniform(10, 500), 6)))
    rows.extend(dangling)
    order = rng.permutation(len(rows))
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["XCoord", "YCoord", "START_NODE", "END_NODE", "EDGE", "LENGTH"])
        for i in order:
            a, dst, rid, cost = rows[i]
            w.writerow([f"{xy[a][0]:.6f}", f"{xy[a][1]:.6f}", ids[a], dst, rid, repr(cost)])
        for _ in range(len(rows) // 10):
            w.writerow([""] * 6)
    # forward edges run right and down, so a target below and to the
    # right of its source is always reachable
    pairs = [(ANCHOR_SRC, ANCHOR_DST)]
    while len(pairs) < n_pairs:
        a, b = (int(k) for k in rng.integers(0, side * side, 2))
        if b // side - a // side >= side // 4 and b % side - a % side >= side // 4:
            pairs.append((ids[a], ids[b]))
    return {"nodes": side * side, "edge_rows": len(rows),
            "duplicate_rows": len(dups), "dangling_rows": len(dangling),
            "pairs": pairs}
