"""Output checks of the benchmark.

* ``oracle``: each query that has an oracle in ``SparkEntry.oracleSql`` is
  re-run as SQL in DuckDB over the same parquet inputs and compared with
  the engine's output: columns sorted by name, rows sorted by all
  columns, exact for non-floats and 1e-9 relative for floats.
* ``graph``: the road-graph queries are compared with independent Python
  implementations over the generated CSV, read with the ingest's
  semantics (see ``Road``): node and edge counts (g1), Dijkstra for the
  shortest-path queries and the CSR pair loop, union-find for the
  components (g10, labels = least member id) and the integer micro-mass
  PageRank that g11 defines (10 iterations, damping 0.85, no dangling
  redistribution).

Each check returns ``{query name: error message}`` for the failures.
"""
import csv
import heapq
import json
import math
import os
from decimal import Decimal, ROUND_HALF_UP

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SRC, DST = "2022", "2802"
GRAPH_CHECKED = ["g1_ingest_counts", "g10_wcc", "g11_pagerank", "g2_dijkstra_path",
                 "g3_dijkstra_summary", "g4_sssp_distances", "g5_astar_summary", "g5b_astar_path", "g6_yen_k3", "g6b_yen_best_path"]


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(a, b):
    if hasattr(a, "item"):
        a = a.item()
    if hasattr(b, "item"):
        b = b.item()
    if a is None or b is None:
        return (a is None) == (b is None)
    if isinstance(a, float) or isinstance(b, float):
        try:
            if math.isnan(a) and math.isnan(b):
                return True
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
        except TypeError:
            pass
    return a == b


def _compare(got, want):
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    gv, wv = g.to_numpy(), w.to_numpy()
    for i in range(len(g)):
        for j, c in enumerate(g.columns):
            if not _same(gv[i][j], wv[i][j]):
                return f"row {i} col {c}: engine={gv[i][j]!r} oracle={wv[i][j]!r}"
    return None


def oracle(data_dir, check_dir):
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").df()
            want = con.execute(sql).df()
            err = _compare(got, want)
        except Exception as e:  # a missing output or an oracle error fails the query
            err = f"load/run error: {e}"
        if err:
            failures[name] = err
    return failures


def _r4(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


class Road:
    """The generated CSV under the ingest's rules: padding rows dropped,
    nodes = distinct START_NODE, rows whose END_NODE is no node dropped,
    exact duplicate rows collapsed."""

    def __init__(self, path):
        rows = []
        with open(path, newline="") as f:
            for r in csv.DictReader(f):
                if r["START_NODE"]:
                    rows.append((r["START_NODE"], float(r["XCoord"]), float(r["YCoord"]),
                                 r["END_NODE"], r["EDGE"], float(r["LENGTH"])))
        self.ids = {r[0] for r in rows}
        self.node_rows = {r[:3] for r in rows}
        self.edge_rows = {(s, e, rid, c) for s, _, _, e, rid, c in rows if e in self.ids}
        best = {}  # min cost per (src, dst): parallel edges collapse
        for s, e, _, c in self.edge_rows:
            if (s, e) not in best or c < best[(s, e)]:
                best[(s, e)] = c
        self.out = {}
        for (s, e), c in best.items():
            self.out.setdefault(s, []).append((e, c))


def dijkstra(out, src):
    dist, pred, done = {src: 0.0}, {}, set()
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if u in done:
            continue
        done.add(u)
        for v, c in out.get(u, ()):
            nd = d + c
            if nd < dist.get(v, math.inf):
                dist[v], pred[v] = nd, u
                heapq.heappush(pq, (nd, v))
    return dist, pred


def _path(pred, src, dst):
    p = [dst]
    while p[-1] != src:
        p.append(pred[p[-1]])
    return p[::-1]


def graph(csv_path, check_dir):
    present = [n for n in GRAPH_CHECKED + ["pairs.json"]
               if os.path.exists(os.path.join(check_dir, n))]
    if not present:
        return {}
    road = Road(csv_path)
    out = road.out
    dist, pred = dijkstra(out, SRC)
    path = _path(pred, SRC, DST)
    total = _r4(dist[DST])
    failures = {}

    def read(name):
        return duckdb.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").df()

    def path_rows(name):
        df = read(name).sort_values("seq")
        if list(df["node_id"]) != path:
            return f"path {list(df['node_id'])[:5]}... != Dijkstra path {path[:5]}..."
        bad = [n for n, c in zip(df["node_id"], df["cost"]) if not _same(c, dist[n])]
        return f"running cost differs at {bad[:3]}" if bad else None

    def summary(name):
        r = read(name).iloc[0]
        if int(r["path_node_number"]) != len(path) or not _same(r["total_cost"], total):
            return (f"({r['path_node_number']}, {r['total_cost']}) != "
                    f"Dijkstra ({len(path)}, {total})")
        return None

    def sssp(name):
        df = read(name)
        got = dict(zip(df["node_id"], df["distance"]))
        if set(got) != set(dist):
            return f"{len(got)} nodes reached != Dijkstra {len(dist)}"
        bad = [n for n in dist if abs(got[n] - _r4(dist[n])) > 1e-9]
        return f"distance differs at {bad[:3]}" if bad else None

    def yen(name):
        df = read(name).sort_values("path_index")
        costs = list(df["total_cost"])
        if int(df.iloc[0]["path_node_number"]) != len(path) or not _same(costs[0], total):
            return f"Yen[0] {costs[0]} != Dijkstra {total}"
        return None if costs == sorted(costs) else f"Yen costs not ascending: {costs}"

    def pairs(name):
        with open(os.path.join(check_dir, "pairs.json")) as f:
            rows = json.load(f)
        for r in rows:
            want = dijkstra(out, r["src"])[0].get(r["dst"], math.nan)
            got = [r["dijkstra"], r["astar"]] + r["yen"][:1]
            if not all(_same(g, want) for g in got) or r["yen"] != sorted(r["yen"]):
                return f"{r['src']}->{r['dst']}: {got} vs Dijkstra {want}"
        return None

    def counts(name):
        r = read(name).iloc[0]
        want = (len(road.node_rows), len(road.edge_rows))
        got = (int(r["n_nodes"]), int(r["n_edges"]))
        return None if got == want else f"(n_nodes, n_edges) {got} != {want}"

    def wcc(name):
        parent = {v: v for v in road.ids}

        def find(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v
        for s, targets in out.items():
            for e, _ in targets:
                a, b = find(s), find(e)
                if a != b:
                    parent[max(a, b)] = min(a, b)  # the root stays the least id
        want = {v: find(v) for v in road.ids}
        df = read(name)
        got = dict(zip(df["node_id"], df["component"]))
        if got != want:
            bad = sorted(v for v in want if got.get(v) != want[v])
            return f"{len(bad)} labels differ, first {bad[:3]}"
        return None

    def pagerank(name):
        n = len(road.ids)
        base = 10**12 // n
        rank = {v: base for v in road.ids}
        for _ in range(10):
            mass = {}
            for s, targets in out.items():
                share = rank[s] // len(targets)
                for e, _ in targets:
                    mass[e] = mass.get(e, 0) + share
            rank = {v: (15 * base) // 100 + (85 * mass.get(v, 0)) // 100 for v in road.ids}
        df = read(name)
        got = dict(zip(df["node_id"], (int(r) for r in df["rank_micro"])))
        if got != rank:
            bad = sorted(v for v in rank if got.get(v) != rank[v])
            return f"{len(bad)} ranks differ, first {bad[:3]}"
        return None

    checks = {"g1_ingest_counts": counts, "g10_wcc": wcc, "g11_pagerank": pagerank,
              "g2_dijkstra_path": path_rows, "g5b_astar_path": path_rows,
              "g6b_yen_best_path": path_rows, "g3_dijkstra_summary": summary,
              "g5_astar_summary": summary, "g4_sssp_distances": sssp,
              "g6_yen_k3": yen, "csr_pair_loop": pairs}
    for name, fn in checks.items():
        if ("pairs.json" if name == "csr_pair_loop" else name) not in present:
            continue
        try:
            err = fn(name)
        except Exception as e:
            err = f"check error: {e}"
        if err:
            failures[name] = err
    return failures

