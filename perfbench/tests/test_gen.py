"""The seeded input generators: determinism per seed, variation across
seeds, and change batches that stay inside their chosen tiles."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest

import gen
from geodesk_gol_spark.config import tile_id
from geodesk_gol_spark.oracle import slowpath as sp


def _tables_equal(a, b):
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_base_and_ml_tables_repeat_per_seed():
    assert _tables_equal(gen.base_tables(7, 300), gen.base_tables(7, 300))
    assert _tables_equal(gen.ml_tables(7, 60, 40, 100), gen.ml_tables(7, 60, 40, 100))


def test_base_and_ml_tables_differ_across_seeds():
    a, b = gen.base_tables(7, 300), gen.base_tables(8, 300)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["orders"].equals(b["orders"])
    x, y = gen.ml_tables(7, 60, 40, 100), gen.ml_tables(8, 60, 40, 100)
    assert not any(x[k].equals(y[k]) for k in x)


def test_read_inputs_repeat_and_vary():
    assert gen.query_mix(3, 50) == gen.query_mix(3, 50)
    assert gen.query_mix(3, 50) != gen.query_mix(4, 50)
    assert gen.knn_queries(3, 10).equals(gen.knn_queries(3, 10))
    assert not gen.knn_queries(3, 10).equals(gen.knn_queries(4, 10))
    ids = range(1000)
    assert gen.sample_ids(3, "s", ids, 20) == gen.sample_ids(3, "s", reversed(ids), 20)
    assert gen.sample_ids(3, "s", ids, 20) != gen.sample_ids(4, "s", ids, 20)
    # every block of 12 has the same mix; the seed moves the windows
    for seed in (3, 4):
        assert Counter(op["kind"] for op in gen.query_mix(seed, 12)) == {
            "bbox": 7, "area": 3, "export": 2}


def test_row_order_is_seeded():
    t = gen.base_tables(1, 200)["orders"]
    a, b = gen.shuffled(t, 5), gen.shuffled(t, 6)
    assert a.equals(gen.shuffled(t, 5)) and not a.equals(b)
    key = lambda x: sorted(x.column("o_orderkey").to_pylist())  # noqa: E731
    assert key(a) == key(b) == key(t)


@pytest.fixture(scope="module")
def snapshot():
    """A store-shaped snapshot over the dense cluster: nodes with their
    tiles from the slow-path pyramid, ways with a home copy and ghost
    copies, and the catalog's tile ids."""
    r = np.random.default_rng(0)
    lon = r.integers(74_000_000, 81_000_000, 3000)
    lat = r.integers(433_000_000, 438_000_000, 3000)
    cells = Counter(sp.cell_of(*sp.project(int(a), int(b))) for a, b in zip(lon, lat))
    pyr = sp.pyramid(cells, 60)
    tiles = {tile_id(z, c, rr) for z, cs in pyr.items() for (c, rr) in cs}
    rows = []
    for i, (a, b) in enumerate(zip(lon, lat)):
        rows.append((i * 4, gen.tile_of(tiles, int(a), int(b)), False, 0, i,
                     {"name": f"n{i}"}, int(a), int(b)))
    node_tile = {i: t for i, (_, t, *_r) in enumerate(rows)}
    members = set()
    for w in range(200):
        ns = [int(n) for n in r.choice(3000, 3, replace=False)]
        members.update(ns)
        ts = sorted({node_tile[n] for n in ns})
        for j, t in enumerate(ts):
            rows.append((w * 4 + 1, t, j > 0, 0, w, {"highway": "residential"}, None, None))
    store = pd.DataFrame(rows, columns=["typed_id", "tile_id", "is_ghost", "twin", "id",
                                        "tags", "lon100nd", "lat100nd"])
    store["ftype"] = store["typed_id"] % 4
    return store, members, tiles


def test_change_batches_stay_in_their_tiles(snapshot):
    store, members, tiles = snapshot
    batches = gen.change_batches(11, store, members, tiles, n_batches=6, per_batch=40)
    copies = store.groupby("typed_id")["tile_id"].agg(set)
    seen = set()
    for b in batches:
        chosen, df = set(b["tiles"]), b["rows"]
        assert len(chosen) == 2 and 0 not in chosen
        assert len(df) > 20 and set(df["op"]) == {"create", "modify", "delete"}
        for row in df.itertuples(index=False):
            assert row.typed_id not in seen, "a feature changes at most once"
            seen.add(row.typed_id)
            if row.op != "create":
                assert copies[row.typed_id] <= chosen
            if row.lon100nd is not None and not pd.isna(row.lon100nd):
                assert gen.tile_of(tiles, int(row.lon100nd), int(row.lat100nd)) in chosen
            if row.op == "delete" or (row.op == "modify" and row.ftype == 0
                                      and row.typed_id in copies
                                      and _moved(store, row)):
                assert row.id not in members, "moves and deletes skip way members"


def _moved(store, row):
    old = store[store["typed_id"] == row.typed_id].iloc[0]
    return (old.lon100nd, old.lat100nd) != (row.lon100nd, row.lat100nd)


def test_change_batches_repeat_and_vary(snapshot):
    store, members, tiles = snapshot
    a = gen.change_batches(11, store, members, tiles, n_batches=3, per_batch=30)
    b = gen.change_batches(11, store, members, tiles, n_batches=3, per_batch=30)
    c = gen.change_batches(12, store, members, tiles, n_batches=3, per_batch=30)
    assert all(x["tiles"] == y["tiles"] and x["rows"].equals(y["rows"]) for x, y in zip(a, b))
    assert any(x["tiles"] != y["tiles"] or not x["rows"].equals(y["rows"])
               for x, y in zip(a, c))


def test_change_batches_take_ways_with_several_home_rows(snapshot):
    """A store can hold a way as a non-ghost row in more than one tile;
    the generator picks such ways like any other."""
    store, members, tiles = snapshot
    store = store.assign(is_ghost=False)
    for seed in range(5):
        batches = gen.change_batches(seed, store, members, tiles, n_batches=6, per_batch=40)
        assert any((b["rows"]["ftype"] == 1).any() for b in batches)
