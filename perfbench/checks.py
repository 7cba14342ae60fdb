"""Untimed correctness spot-checks, each against an independent slow path.

Every check returns a list of human-readable disagreements; an empty
list means it passed.  Samples are drawn from the run's seed.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def content_hash(df: DataFrame) -> tuple[int, int]:
    """(rows, order-free content hash).  Map columns are hashed as their
    key-sorted entry arrays, so the hash does not depend on map order."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.dataType.typeName() == "map":
            c = F.array_sort(F.map_entries(c))
        cols.append(F.to_json(F.struct(c.alias("v"))).alias(f.name))
    h = F.xxhash64(*cols)
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.sum((h % 1_000_000_007).cast("decimal(38,0)")).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def build_metrics_clean(metrics: list[dict]) -> list[str]:
    """``check_store`` invariants recorded by the build must all be 0."""
    chk = next((m for m in metrics if m["stage"] == "check"), None)
    if chk is None:
        return ["build recorded no check stage"]
    return [f"check_store {k}={v}" for k, v in chk.items()
            if k not in ("stage", "seconds") and v]


def feature_tiles_vs_slowpath(nodes: pd.DataFrame, store: pd.DataFrame,
                              density: int, sample: list[int]) -> list[str]:
    """Re-derive the tile of sampled nodes with ``oracle/slowpath.py``
    (projection, pyramid density merge, cell→tile) and compare with the
    store's home copy.  ``nodes``: id, lon100nd, lat100nd of every node;
    ``store``: typed_id, tile_id, is_ghost."""
    from geodesk_gol_spark.oracle import slowpath as sp

    cells = Counter(sp.cell_of(*sp.project(int(a), int(b)))
                    for a, b in zip(nodes["lon100nd"], nodes["lat100nd"]))
    pyr = sp.pyramid(cells, density)
    by_id = nodes.set_index("id")
    homes = store[~store["is_ghost"]].set_index("typed_id")["tile_id"]
    bad = []
    for nid in sample:
        want = sp.cell_to_tile(pyr, *sp.cell_of(*sp.project(
            int(by_id.at[nid, "lon100nd"]), int(by_id.at[nid, "lat100nd"]))))
        got = int(homes.get(nid * 4, -1))
        if got != want:
            bad.append(f"node {nid}: store tile {got}, slow path {want}")
    return bad


def _even_odd(px: int, py: int, ring: list[tuple[int, int]]) -> bool:
    """Integer ray cast, half-open in y (a shared vertex counts once)."""
    inside = False
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        dy1, dy2 = y0 - py, y1 - py
        if (dy1 > 0) != (dy2 > 0):
            n = dy1 * (x1 - px) - dy2 * (x0 - px)
            if (n > 0) == (dy1 > dy2):
                inside = not inside
    return inside


def contains_vs_pip(got: set[tuple[int, int]], sample: pd.DataFrame,
                    rings: dict[int, list[tuple[int, int]]]) -> list[str]:
    """Every (node, way) pair for the sampled nodes, by a direct
    point-in-polygon test against every area way, must equal the join's
    pairs.  ``sample``: id, x, y; ``rings``: way id → vertex list."""
    want = set()
    for nid, x, y in sample[["id", "x", "y"]].itertuples(index=False):
        for wid, ring in rings.items():
            if _even_odd(int(x), int(y), ring):
                want.add((int(nid), wid))
    bad = [f"contains pair {p} missing" for p in sorted(want - got)[:5]]
    bad += [f"contains pair {p} not inside" for p in sorted(got - want)[:5]]
    return bad


def knn_vs_bruteforce(fast: list, brute: list) -> list[str]:
    """Collected (q_id, neighbor_id, rank) rows of both paths."""
    a = {(r.q_id, r.rank, r.neighbor_id) for r in fast}
    b = {(r.q_id, r.rank, r.neighbor_id) for r in brute}
    return [f"knn {x} differs from brute force" for x in sorted(a ^ b)[:5]]


def query_vs_unpruned(op: dict, got: int, home: DataFrame) -> list[str]:
    """A gol_query count against a filter that prunes no tile: the GOQL
    filter over every home copy, then the window on the feature bbox
    (``-b``) or the ring test on the feature centre (``-a``) in Python."""
    import numpy as np

    from geodesk_gol_spark.query.area import parse_area, parse_box
    from geodesk_gol_spark.query.goql import goql_to_column

    sel = home.filter(goql_to_column(op["goql"]))
    if "bbox" in op:
        x0, y0, x1, y1 = parse_box(op["bbox"])
        want = sel.filter((F.col("maxx") >= x0) & (F.col("minx") <= x1)
                          & (F.col("maxy") >= y0) & (F.col("miny") <= y1)
                          ).select("typed_id").distinct().count()
    else:
        rings = parse_area(op["area"])
        pts = sel.select("typed_id", "cx", "cy").distinct().toPandas()
        xs, ys = pts["cx"].to_numpy(float), pts["cy"].to_numpy(float)
        inside = np.zeros(len(xs), dtype=bool)
        for ring in rings:
            ring = list(ring)
            if ring[0] != ring[-1]:
                ring.append(ring[0])
            for (ax, ay), (bx, by) in zip(ring, ring[1:]):
                with np.errstate(divide="ignore", invalid="ignore"):
                    inside ^= ((ay > ys) != (by > ys)) & (
                        xs < (bx - ax) * (ys - ay) / (by - ay) + ax)
        want = int(inside.sum())
    return [] if want == got else [f"{op['kind']} {op['goql']}: gol_query {got}, unpruned {want}"]


def frames_equal(name: str, got: pd.DataFrame, want: pd.DataFrame,
                 keys: list[str]) -> list[str]:
    g = got[sorted(got.columns)].sort_values(keys).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(keys).reset_index(drop=True)
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows, oracle {len(w)}"]
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False)
    except AssertionError as e:
        return [f"{name}: {str(e).splitlines()[0]}"]
    return []
