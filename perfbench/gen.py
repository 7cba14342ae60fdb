"""Seeded input generators for the benchmark.

Everything the engine sees is derived from the ``--seed`` argument
through these functions: the TPC-H-shaped base tables that
``sources.synth`` turns into the interleaved-document table, the
training-data tables, the query mix, the spatial-join samples and the
change batches.  Generators are pure functions of (seed, sizes, and for
the store-dependent ones a driver-side snapshot of the store), so the
same seed always yields the same inputs; they never touch Spark.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark group query row data filter customer "
    "line value agg column vector"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

# lon/lat windows (100-nanodegree ints) of the three node populations
# that sqlgen.LON100ND / LAT100ND place nodes in: a dense cluster, a
# medium cluster and a sparse world-wide band
CLUSTERS = [
    (74_000_000, 81_000_000, 433_000_000, 438_000_000),
    (1_000_000_000, 1_050_000_000, 300_000_000, 340_000_000),
]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding draws to one kind
    never shifts another kind's inputs for the same seed."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


# ---------------------------------------------------------------------------
# base tables (input of sources.synth)
# ---------------------------------------------------------------------------

def base_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """region / nation / customer / orders / lineitem with the columns
    ``sources.synth.synth_docs`` reads.  Node coordinates derive from
    hashed (orderkey, linenumber), so drawing the orderkeys from a range
    50× wider than needed moves every node with the seed.  Row order is
    a seeded shuffle."""
    r = _rng(seed, "base")
    n_cust = max(25, n_orders // 10)
    keys = np.sort(r.choice(50 * n_orders, n_orders, replace=False)).astype(np.int64)
    cust = r.integers(0, n_cust, n_orders).astype(np.int64)
    lines = r.integers(1, 8, n_orders)
    l_ok = np.repeat(keys, lines)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    perm = r.permutation(len(l_ok))
    operm = r.permutation(n_orders)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
    })
    orders = pa.table({
        "o_orderkey": pa.array(keys[operm], pa.int64()),
        "o_custkey": pa.array(cust[operm], pa.int64()),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_orders)[operm]],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok[perm], pa.int64()),
        "l_linenumber": pa.array(l_ln[perm], pa.int32()),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


# ---------------------------------------------------------------------------
# training-data tables (input of operators.mldf)
# ---------------------------------------------------------------------------

def ml_tables(seed: int, n_docs: int, n_vec: int, n_events: int) -> dict[str, pa.Table]:
    """documents / embeddings / events in the shapes ``operators.mldf``
    reads.  One document in six is a near-copy (one word replaced) of an
    earlier one, so near-duplicate detection has pairs to find."""
    r = _rng(seed, "ml")
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and r.random() < 1 / 6:
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in r.integers(0, len(WORDS), int(r.integers(10, 100)))]
        texts.append(" ".join(words))
    dperm = r.permutation(n_docs)
    documents = pa.table({
        "doc_id": pa.array(dperm, pa.int64()),
        "text": [texts[i] for i in dperm],
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(texts[i]) for i in dperm], pa.int64()),
    })
    emb = r.normal(0.0, 0.1, (n_vec, 64)).astype(np.float32)
    vperm = r.permutation(n_vec)
    embeddings = pa.table({
        "vec_id": pa.array(vperm, pa.int64()),
        "embedding": pa.array(list(emb[vperm]), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32()),
    })
    t0 = dt.datetime(2024, 1, 1)
    secs = np.sort(r.uniform(0, 30 * 86400, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=float(s)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 50, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_events)],
        "value": np.round(r.uniform(0, 500, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_events)],
    })
    return {"documents": documents, "embeddings": embeddings, "events": events}


def shuffled(table: pa.Table, seed: int) -> pa.Table:
    """The same rows in a seeded order."""
    return table.take(pa.array(_rng(seed, "order").permutation(table.num_rows)))


# ---------------------------------------------------------------------------
# read-side inputs: query mix and spatial-join samples
# ---------------------------------------------------------------------------

NODE_SELECTORS = ["n[amenity]", "n[amenity=cafe]", "n[highway=residential]",
                  "n[name=A*]", "n[highway]"]
WAY_SELECTORS = ["w[highway]", "w[highway][name=A*]", "w[building]"]


def _window(r: np.random.Generator, cluster: int, size: float) -> tuple[float, float, float, float]:
    """A lon/lat window (degrees) at a seeded place in ``cluster``, its
    half-sides ``size`` of the cluster's extent."""
    lo_x, hi_x, lo_y, hi_y = CLUSTERS[cluster]
    cx = r.uniform(lo_x, hi_x) / 1e7
    cy = r.uniform(lo_y, hi_y) / 1e7
    w = size * (hi_x - lo_x) / 1e7
    h = size * (hi_y - lo_y) / 1e7
    return cx - w, cy - h, cx + w, cy + h


# one block of reads: (kind, selector, cluster, window size).  The seed
# draws every window's place and polygon; kinds, selectors, sizes and
# their order stay fixed, so a short run's latencies do not swing with
# the draw.
SELECTORS = NODE_SELECTORS + WAY_SELECTORS
SIZES = np.linspace(0.02, 0.3, 12)
READ_BLOCK = ([("bbox", SELECTORS[i], int(i >= 5), SIZES[i]) for i in range(7)]
              + [("area", SELECTORS[i], int(i == 7), SIZES[i]) for i in (7, 3, 5)]
              + [("export", NODE_SELECTORS[i], 0, SIZES[8 + i]) for i in (0, 3)])


def query_mix(seed: int, n: int, stream: str = "query") -> list[dict]:
    """``n`` gol_query operations in blocks of 12: seven GOQL + bbox
    counts, three GOQL + polygon-area counts and two GeoJSON exports
    over a bbox, at seeded places."""
    r = _rng(seed, stream)
    ops = []
    while len(ops) < n:
        for kind, sel, cluster, size in READ_BLOCK:
            w, s, e, nn = _window(r, cluster, float(size))
            box = f"{w:.6f},{s:.6f},{e:.6f},{nn:.6f}"
            if kind == "area":
                mx, my = r.uniform(w, e), r.uniform(s, nn)
                ring = [(w, s), (e, s + (nn - s) * r.uniform(0, 0.5)), (mx, my),
                        (e - (e - w) * r.uniform(0, 0.5), nn), (w, s)]
                wkt = "POLYGON((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in ring) + "))"
                ops.append({"kind": kind, "goql": sel, "fmt": "count", "area": wkt})
            else:
                ops.append({"kind": kind, "goql": sel,
                            "fmt": "count" if kind == "bbox" else "geojson", "bbox": box})
    return ops[:n]


def knn_queries(seed: int, n: int) -> pd.DataFrame:
    """(q_id, qx, qy): kNN query points in world xy, in the clusters."""
    from geodesk_gol_spark.oracle.slowpath import project

    r = _rng(seed, "knn")
    rows = []
    for i in range(n):
        lo_x, hi_x, lo_y, hi_y = CLUSTERS[int(r.random() < 0.3)]
        rows.append((i, *project(int(r.integers(lo_x, hi_x)), int(r.integers(lo_y, hi_y)))))
    return pd.DataFrame(rows, columns=["q_id", "qx", "qy"]).astype("int64")


def sample_ids(seed: int, stream: str, ids, n: int) -> list[int]:
    """A seeded sample of ``n`` ids (sorted input makes it order-free)."""
    ids = np.sort(np.asarray(list(ids), dtype=np.int64))
    r = _rng(seed, stream)
    return sorted(int(i) for i in r.choice(ids, min(n, len(ids)), replace=False))


# ---------------------------------------------------------------------------
# write-side inputs: localized change batches
# ---------------------------------------------------------------------------

def tile_of(tiles: set[int], lon100nd: int, lat100nd: int) -> int:
    """Deepest catalog tile holding the point (the catalog's cell→tile
    rule, recomputed with the pure-Python slow path)."""
    from geodesk_gol_spark.config import tile_id
    from geodesk_gol_spark.oracle.slowpath import cell_of, project

    c, r = cell_of(*project(lon100nd, lat100nd))
    for z in (12, 9, 6, 3):
        d = 1 << (12 - z)
        t = tile_id(z, c // d, r // d)
        if t in tiles:
            return t
    return 0


CHANGE_COLUMNS = ["typed_id", "op", "revision", "change_seq", "ftype", "id",
                  "tags", "lon100nd", "lat100nd"]


def change_batches(seed: int, store: pd.DataFrame, member_nodes: set[int],
                   tiles: set[int], n_batches: int, per_batch: int,
                   tiles_per_batch: int = 2) -> list[dict]:
    """Localized change batches in the mix of a daily diff.

    ``store`` is a snapshot with typed_id, tile_id, is_ghost, ftype, id,
    tags, lon100nd, lat100nd.  Each batch picks ``tiles_per_batch``
    non-root tiles and only touches features whose every copy lies in
    them: ~45 % tag modifies (nodes and ways), ~20 % node moves, ~15 %
    node deletes and ~20 % node creates, moved and created nodes placed
    inside the chosen tiles.  Moves and deletes only pick nodes that no
    way references, so way geometry stays intact.  No feature changes
    twice across the batches.  Returns ``[{"tiles": [...], "rows":
    DataFrame[CHANGE_COLUMNS]}]``."""
    r = _rng(seed, "changes")
    copies = store.groupby("typed_id")["tile_id"].agg(lambda s: frozenset(int(t) for t in s))
    # a way can be a non-ghost row in more than one tile; its copies
    # share tags and id, so one row stands for the feature
    homes = store[~store["is_ghost"]].drop_duplicates("typed_id").set_index("typed_id")
    nodes = homes[homes["ftype"] == 0]
    ways = homes[homes["ftype"] == 1]
    counts = nodes.groupby("tile_id").size()
    eligible = sorted(int(t) for t, n in counts.items() if t != 0 and n >= 20)
    used: set[int] = set()
    next_id = int(store["id"].max()) + 1
    seq = 0
    out = []
    for b in range(n_batches):
        chosen = sorted(int(t) for t in r.choice(eligible, min(tiles_per_batch, len(eligible)),
                                                  replace=False))
        cs = frozenset(chosen)
        local = [tid for tid in nodes.index[nodes["tile_id"].isin(chosen)]
                 if copies[tid] <= cs and tid not in used]
        loose = [tid for tid in local if int(nodes.at[tid, "id"]) not in member_nodes]
        wlocal = [tid for tid in ways.index if copies[tid] <= cs and tid not in used]
        rows = []

        def take(pool, k):
            pool = [t for t in pool if t not in used]
            pick = [pool[i] for i in r.permutation(len(pool))[:k]] if pool else []
            used.update(pick)
            return pick

        def place(tid):
            """A point near ``tid``'s node that stays in a chosen tile."""
            lon, lat = int(nodes.at[tid, "lon100nd"]), int(nodes.at[tid, "lat100nd"])
            for _ in range(50):
                nl = lon + int(r.integers(-20_000, 20_001))
                nb = lat + int(r.integers(-20_000, 20_001))
                if tile_of(tiles, nl, nb) in cs:
                    return nl, nb
            return lon, lat

        n_mod = int(per_batch * 0.45)
        n_move = int(per_batch * 0.2)
        n_del = int(per_batch * 0.15)
        n_new = per_batch - n_mod - n_move - n_del
        rev = b + 1
        n_wmod = min(len(wlocal), n_mod // 3)
        for tid in take(wlocal, n_wmod):
            tags = dict(ways.at[tid, "tags"] or {})
            tags["name"] = f"A rev{rev} {int(r.integers(0, 10**6))}"
            rows.append((tid, "modify", rev, 0, 1, int(ways.at[tid, "id"]), tags, None, None))
        for tid in take(local, n_mod - n_wmod):
            tags = dict(nodes.at[tid, "tags"] or {})
            tags["name"] = f"A rev{rev} {int(r.integers(0, 10**6))}"
            rows.append((tid, "modify", rev, 0, 0, int(nodes.at[tid, "id"]), tags,
                         int(nodes.at[tid, "lon100nd"]), int(nodes.at[tid, "lat100nd"])))
        for tid in take(loose, n_move):
            lon, lat = place(tid)
            rows.append((tid, "modify", rev, 0, 0, int(nodes.at[tid, "id"]),
                         dict(nodes.at[tid, "tags"] or {}), lon, lat))
        for tid in take(loose, n_del):
            rows.append((tid, "delete", rev, 0, 0, int(nodes.at[tid, "id"]), None, None, None))
        anchors = [local[i] for i in r.integers(0, len(local), n_new)] if local else []
        for tid in anchors:
            lon, lat = place(tid)
            nid = next_id
            next_id += 1
            tags = {"amenity": "cafe" if r.random() < 0.5 else "parking",
                    "name": f"A new {nid}"}
            rows.append((nid * 4, "create", rev, 0, 0, nid, tags, lon, lat))
        df = pd.DataFrame(rows, columns=CHANGE_COLUMNS)
        df["change_seq"] = np.arange(seq, seq + len(df), dtype=np.int64)
        seq += len(df)
        out.append({"tiles": chosen, "rows": df})
    return out
