"""The benchmark's workloads: set-up, the timed closed loop, and the
untimed correctness checks.

One closed-loop client: every operation starts after the previous one
has completed.  Each workload is a class with ``setup`` (untimed inputs
and state), ``cycle`` (one unit of the timed loop, built from ``ctx.op``
calls) and ``check`` (spot-checks after the timed region).
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen

# fixed input sizes (a small sf-0.001-like corpus; see README.md)
N_ORDERS = 1000
DENSITY = 30
DATA_SEED = 20240101      # the corpus behind build/query/update; --seed varies the rest
N_DOCS, N_VEC, N_EVENTS = 800, 800, 4000
N_BATCHES = 24            # change batches generated per update run (one per cycle)
TRAIN_OPS = ("dedup_minhash", "ann_cosine_topk", "window_agg")


def _success(path: str) -> None:
    open(os.path.join(path, "_SUCCESS"), "w").close()


def read_frame(path: str, columns=None):
    """A Spark-written parquet directory read on the driver with pyarrow,
    so the benchmark's own input preparation runs no Spark job."""
    return pq.read_table(path, columns=columns).to_pandas(maps_as_pydicts="strict")


def write_tables(tables: dict[str, pa.Table], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))


def settings():
    """The fixture density, with shuffle width and store-write batches
    sized for the host (two partitions per core) instead of for a
    cluster."""
    from geodesk_gol_spark.config import BuildSettings

    return BuildSettings(min_tile_density=DENSITY,
                         shuffle_partitions=2 * len(os.sched_getaffinity(0)),
                         store_batches=2)


# ---------------------------------------------------------------------------
# the per-checkout corpus cache
# ---------------------------------------------------------------------------

def corpus_ready(ctx) -> bool:
    return os.path.exists(os.path.join(ctx.cache_root, ctx.code_key, "DONE"))


def corpus(ctx) -> str:
    """Directory holding the fixed corpus: base tables (``sf``), one
    ``build_gol`` output over them (``build``) and its store in the
    ``tile_id=`` layout of the update path (``store_tiled``), made once per checkout by
    the code under test (in a child process of the first run that needs
    it).  The key hashes the engine and benchmark sources, so a changed
    program never reads a stale corpus; corpora of other keys are kept,
    so checkouts of two commits can share one state directory."""
    from geodesk_gol_spark.plans.pipeline import build_gol
    from geodesk_gol_spark.sources.synth import synth_docs

    final = os.path.join(ctx.cache_root, ctx.code_key)
    if corpus_ready(ctx):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(gen.base_tables(DATA_SEED, N_ORDERS), os.path.join(tmp, "sf"))
    synth_docs(ctx.spark, os.path.join(tmp, "sf")).write.parquet(
        os.path.join(tmp, "build", "docs"))
    res = build_gol(ctx.spark, os.path.join(tmp, "sf"), os.path.join(tmp, "build"), settings())
    bad = checks.build_metrics_clean(res.metrics)
    if bad:
        raise RuntimeError(f"corpus build failed its own check: {bad}")
    ref = checks.content_hash(ctx.spark.read.parquet(os.path.join(tmp, "build", "store")))
    with open(os.path.join(tmp, "store_hash.json"), "w") as f:
        json.dump(ref, f)
    tile_layout(ctx.spark, tmp)
    os.rename(tmp, final)
    open(os.path.join(final, "DONE"), "w").close()
    return final


def load_catalog(build_dir: str):
    from geodesk_gol_spark.plans.pyramid import TileCatalog

    tiles = read_frame(os.path.join(build_dir, "tile_catalog"))
    return TileCatalog(settings=settings(), tiles=tiles.sort_values("tile_id", ignore_index=True))


CHANGE_SCHEMA = ("typed_id long, op string, revision long, change_seq long, ftype int, "
                 "id long, tags map<string,string>, lon100nd long, lat100nd long")


def apply_batch(spark, catalog, rows, feed: str, base: str, out: str) -> int:
    """One change batch: ``prepare_node_changes``, written as the next
    file of the ``feed`` directory, then one availableNow
    ``apply_changes_streaming`` call of ``feed`` over ``base`` into
    ``out``.  Returns the epoch it wrote."""
    from geodesk_gol_spark.streaming.update import (
        apply_changes_streaming,
        prepare_node_changes,
    )

    prepared = prepare_node_changes(spark.createDataFrame(rows, CHANGE_SCHEMA), catalog)
    staging = f"{feed}.staging"
    prepared.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in sorted(os.listdir(staging)) if f.endswith(".parquet"))
    os.makedirs(feed, exist_ok=True)
    os.rename(os.path.join(staging, part),
              os.path.join(feed, f"batch-{len(os.listdir(feed)):04d}.parquet"))
    stream = spark.readStream.schema(prepared.schema).parquet(feed)
    q = apply_changes_streaming(spark, stream, base, out)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return latest_epoch(out)


def latest_epoch(out: str) -> int:
    done = [int(d.split("=")[1]) for d in os.listdir(out) if d.startswith("epoch=")
            and os.path.exists(os.path.join(out, d, "_SUCCESS"))]
    return max(done)


STORE_COLUMNS = ["typed_id", "tile_id", "is_ghost", "tags", "lon100nd", "lat100nd", "cx", "cy"]


def tile_layout(spark, corpus_dir: str) -> None:
    """The first ``apply_changes_streaming`` epoch over a flat store
    rewrites all of it into ``tile_id=`` partitions; every later epoch
    rewrites only the tiles it changes.  The corpus keeps that one-off
    rewrite, made with an empty change batch, as ``store_tiled``, so an
    update run applies its batch to a store in the layout it has after
    its first update."""
    build = os.path.join(corpus_dir, "build")
    work = os.path.join(corpus_dir, "layout")
    flat = os.path.join(build, "store")
    epoch = apply_batch(spark, load_catalog(build), [], os.path.join(work, "feed"), flat,
                        os.path.join(work, "epochs"))
    tiled = os.path.join(work, "epochs", f"epoch={epoch}")
    want = checks.content_hash(spark.read.parquet(flat).select(*STORE_COLUMNS))
    got = checks.content_hash(spark.read.parquet(tiled).select(*STORE_COLUMNS))
    if got != want:
        raise RuntimeError(f"tile_id= layout {got} != flat store {want}")
    os.rename(tiled, os.path.join(corpus_dir, "store_tiled"))
    shutil.rmtree(work)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

class Build:
    """``plans.pipeline.build_gol`` over a docs table written in set-up
    in seeded row order.  The traced run composes the same layer calls
    itself, one span per layer."""

    cycle_name = "build_gol"
    # the op kind whose median latency is op_p50_ms: each workload's most
    # frequent operation (for reads, bbox: 7 of every 12)
    primary = ("build",)
    min_cycles = 1
    needs_corpus = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.out = os.path.join(ctx.run_dir, "build")

    def setup(self):
        self.corpus = corpus(self.ctx)
        docs = pq.read_table(os.path.join(self.corpus, "build", "docs"))
        path = os.path.join(self.out, "docs")
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(gen.shuffled(docs, self.ctx.seed), os.path.join(path, "part-0.parquet"))
        _success(path)

    def cycle(self):
        if self.ctx.ops:       # later cycles rebuild everything but the docs
            for d in os.listdir(self.out):
                if d != "docs":
                    shutil.rmtree(os.path.join(self.out, d))
        self.result = self.ctx.op("build", None, self._build)

    def tail(self):
        """The traced run also times ``synth_docs``, which the build skips
        over the docs written in set-up.  It runs after the build, so the
        timed build starts as cold as an untraced one."""
        if self.ctx.tracer.enabled:
            from geodesk_gol_spark.sources.synth import synth_docs

            with self.ctx.tracer.span("sources.synth", "synth_docs"):
                synth_docs(self.ctx.spark, os.path.join(self.corpus, "sf")).write.parquet(
                    os.path.join(self.ctx.run_dir, "synth_docs"))

    def _build(self):
        sf = os.path.join(self.corpus, "sf")
        if self.ctx.tracer.enabled:
            return composed_build(self.ctx, sf, self.out, settings())
        from geodesk_gol_spark.plans.pipeline import build_gol

        return build_gol(self.ctx.spark, sf, self.out, settings(), resume=True)

    def check(self):
        spark, ctx = self.ctx.spark, self.ctx
        res = self.result
        if res is None:
            return
        metrics = res.metrics if hasattr(res, "metrics") else res["metrics"]
        ctx.wrong += checks.build_metrics_clean(metrics)
        store = spark.read.parquet(os.path.join(self.out, "store"))
        with open(os.path.join(self.corpus, "store_hash.json")) as f:
            want = tuple(json.load(f))
        got = checks.content_hash(store)
        if got != want:
            ctx.wrong.append(f"store (rows, hash) {got} != build_gol over the corpus {want}")
        nodes = read_frame(os.path.join(self.out, "features_nodes"),
                           ["id", "lon100nd", "lat100nd"])
        homes = read_frame(os.path.join(self.out, "store"), ["typed_id", "tile_id", "is_ghost",
                                                             "ftype"])
        homes = homes[homes["ftype"] == 0].drop(columns="ftype")
        sample = gen.sample_ids(ctx.seed, "slowpath", nodes["id"], 200)
        ctx.wrong += checks.feature_tiles_vs_slowpath(nodes, homes, DENSITY, sample)
        ft = pq.read_table(os.path.join(self.out, "feature_tiles"), columns=["typed_id"])
        n_ft = ft.num_rows
        ctx.extra["store_bytes_per_feature"] = _du(os.path.join(self.out, "store")) / n_ft
        ctx.extra["operators.assign.copies_per_feature"] = (
            n_ft / len(pc.unique(ft["typed_id"])))
        ctx.extra["operators.compile_tiles.store_files"] = float(sum(
            f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(self.out, "store"))
            for f in fs))
        for m in metrics:
            if m["stage"] == "assignment":
                for k in ("j6_pending_supers", "j6_residue_edges"):
                    ctx.extra[f"operators.assign.{k}"] = float(m.get(k, 0))


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def composed_build(ctx, sf_dir: str, out_dir: str, st) -> dict:
    """The stages of ``plans.pipeline.build_gol`` (docs present, nothing
    resumed), called one layer at a time inside that layer's span.  The
    check after the run asserts the store equals build_gol's."""
    from pyspark.sql import functions as F

    from geodesk_gol_spark.functions.mercator import with_projection
    from geodesk_gol_spark.operators import validate as V
    from geodesk_gol_spark.operators.assign import assign_features, node_points
    from geodesk_gol_spark.operators.check import check_store
    from geodesk_gol_spark.operators.compile_tiles import (
        compile_feature_rows,
        write_store_resumable,
    )
    from geodesk_gol_spark.plans.pyramid import build_tile_catalog
    from geodesk_gol_spark.sources.parser import parse_features_unified, split_features

    spark, span = ctx.spark, ctx.tracer.span
    p = lambda name: os.path.join(out_dir, name)  # noqa: E731
    metrics: list[dict] = []
    docs = spark.read.parquet(p("docs"))
    kinds = ("nodes", "ways", "relations", "media")
    with span("sources.parser", "parse_features"):
        parse_features_unified(docs).write.mode("overwrite").parquet(p("features_unified"))
        feats = split_features(spark.read.parquet(p("features_unified")))
        for k in kinds:
            feats[k].write.mode("overwrite").parquet(p(f"features_{k}"))
    feats = {k: spark.read.parquet(p(f"features_{k}")) for k in kinds}
    with span("plans.pyramid", "build_tile_catalog"):
        proj = with_projection(feats["nodes"]).persist()
        catalog = build_tile_catalog(proj, st)
        catalog.df(spark).coalesce(1).write.mode("overwrite").parquet(p("tile_catalog"))
    asn_names = ("feature_tiles", "extents", "node_tiles", "way_homes", "rel_homes")
    with span("operators.assign", "assign_features"):
        res = assign_features(feats, catalog)
        for k in asn_names:
            res[k].write.mode("overwrite").parquet(p(k))
        metrics.append({"stage": "assignment", **res.get("j6_stats", {})})
    asn = {k: spark.read.parquet(p(k)) for k in asn_names}
    with span("operators.validate", "validate"):
        refs = (feats["ways"], feats["relations"], asn["node_tiles"], asn["way_homes"],
                asn["rel_homes"])
        V.export_tables(*refs).write.mode("overwrite").parquet(p("tile_exports"))
        V.foreign_ref_stubs(*refs).write.mode("overwrite").parquet(p("foreign_stubs"))
        (V.duplicate_location_nodes(node_points(proj))
         .unionByName(V.orphan_nodes(feats["nodes"], feats["ways"], feats["relations"]))
         .unionByName(V.missing_member_tags(asn["extents"]))
         ).write.mode("overwrite").parquet(p("synthetic_tags"))
    with span("operators.compile_tiles", "compile_and_store"):
        rows = compile_feature_rows(asn["feature_tiles"], node_points(proj), asn["extents"],
                                    feats["nodes"], feats["ways"], feats["relations"])
        rows.repartitionByRange(int(st.shuffle_partitions), "tile_id", "hilbert").write.mode(
            "overwrite").parquet(p("store_input"))
        batch_lineage = write_store_resumable(
            spark.read.parquet(p("store_input")), p("store"), catalog.tiles,
            st.shuffle_partitions, n_batches=st.store_batches)
        per_tile = spark.read.parquet(p("store")).groupBy("tile_id").count()
        tile_rows = per_tile.selectExpr(
            "'store_tile' AS stage", "CAST(NULL AS INT) AS batch",
            "CAST(NULL AS LONG) AS tile_lo", "CAST(NULL AS LONG) AS tile_hi",
            "CAST(NULL AS DOUBLE) AS seconds", "CAST(NULL AS BOOLEAN) AS resumed",
            "CAST(tile_id AS INT) AS tile_id", "CAST(count AS LONG) AS n_rows")
        batch_rows = spark.createDataFrame(
            [(b["stage"], b["batch"], b["tile_lo"], b["tile_hi"], b["seconds"],
              b["resumed"], None, b["rows"]) for b in batch_lineage],
            "stage string, batch int, tile_lo long, tile_hi long, seconds double, "
            "resumed boolean, tile_id int, n_rows long")
        tile_rows.unionByName(batch_rows).coalesce(1).write.mode("overwrite").parquet(
            p("lineage"))
    with span("operators.check", "check_store"):
        checks_row = {r["invariant"]: int(r["n_bad"]) for r in check_store(
            spark.read.parquet(p("store")), catalog, spark.read.parquet(p("tile_exports")),
            spark.read.parquet(p("foreign_stubs"))).collect()}
        metrics.append({"stage": "check", **checks_row})
        spark.read.parquet(p("lineage")).filter(F.col("stage") == "store_tile").agg(
            F.count("*"), F.max("n_rows"), F.expr("percentile_approx(n_rows, 0.5)"),
            F.sum("n_rows")).collect()
    proj.unpersist()
    return {"metrics": metrics}


# ---------------------------------------------------------------------------
# train_ops
# ---------------------------------------------------------------------------

class _Train:
    """The training-data operators: MinHash-LSH dedup (over a
    checkpointed ``capped_shingles`` table), exact cosine top-k and the
    tumbling-window aggregate, each checked against its DuckDB template
    from ``gate_ml``."""

    def gen_ml(self):
        self.tables = gen.ml_tables(self.ctx.seed, N_DOCS, N_VEC, N_EVENTS)
        write_tables(self.tables, os.path.join(self.ctx.run_dir, "ml"))

    def ml_frames(self):
        spark = self.ctx.spark
        self.frames = {k: spark.read.parquet(os.path.join(self.ctx.run_dir, "ml", f"{k}.parquet"))
                       for k in self.tables}
        self.ml_out = {}

    def train_round(self):
        from geodesk_gol_spark.operators import mldf

        docs = self.frames["documents"]

        def dedup():
            sh2 = mldf.capped_shingles(docs).localCheckpoint()
            return mldf.dedup_minhash(docs, sh2=sh2).toPandas()

        ops = [("dedup_minhash", dedup),
               ("ann_cosine_topk",
                lambda: mldf.ann_cosine_topk(self.frames["embeddings"]).toPandas()),
               ("window_agg", lambda: mldf.window_agg(self.frames["events"]).toPandas())]
        for name, fn in ops:
            self.ml_out[name] = self.ctx.op(name, "operators.mldf", fn)

    def check_ml(self):
        import duckdb

        from geodesk_gol_spark import gate_ml

        con = duckdb.connect()
        try:
            for k, t in self.tables.items():
                con.register(k, t)
            sql = {"dedup_minhash": (gate_ml.sql_dedup_minhash("documents", "duck"),
                                     ["doc_a", "doc_b"]),
                   "ann_cosine_topk": (gate_ml.sql_ann_cosine_topk("embeddings", "duck"),
                                       ["q_id", "rank"]),
                   "window_agg": (gate_ml.sql_window_agg("events", "duck"),
                                  ["window_start", "event_type"])}
            for name, (q, keys) in sql.items():
                got = self.ml_out.get(name)
                if got is None:
                    continue
                want = con.execute(q).df()
                self.ctx.wrong += checks.frames_equal(name, got, want, keys)
            if len(self.ml_out.get("dedup_minhash", [])) == 0:
                self.ctx.wrong.append("dedup_minhash found no pairs in a corpus with near-copies")
        finally:
            con.close()


# ---------------------------------------------------------------------------
# query / update share the read side
# ---------------------------------------------------------------------------

class _Reads:
    """gol_query reads and spatial joins over a store directory.  The
    results of the reads and joins on the most recent store are kept for
    the untimed checks."""

    def load(self):
        ctx = self.ctx
        self.corpus = corpus(ctx)
        self.build_dir = os.path.join(self.corpus, "build")
        self.catalog = load_catalog(self.build_dir)
        # sorted, so the generators draw from the same row order whatever
        # files the engine wrote the store to
        self.snapshot = read_frame(
            os.path.join(self.build_dir, "store"),
            ["typed_id", "tile_id", "is_ghost", "ftype", "id", "tags", "lon100nd", "lat100nd"],
        ).sort_values(["typed_id", "tile_id", "is_ghost"], ignore_index=True)
        self.ways = os.path.join(self.build_dir, "features_ways")
        node_ids = pq.read_table(self.ways, columns=["node_ids"])["node_ids"]
        self.members = set(pc.unique(pc.list_flatten(node_ids)).to_pylist())
        self.last: dict = {}

    def area_ways(self):
        from geodesk_gol_spark.functions.areas import way_is_area

        return self.ctx.spark.read.parquet(self.ways).filter(way_is_area())

    def gen_reads(self):
        seed = self.ctx.seed
        self.queries = gen.query_mix(seed, 400)
        self.knn_q = gen.knn_queries(seed, 24)
        node_ids = self.snapshot.loc[self.snapshot["ftype"] == 0, "id"]
        self.contains_ids = gen.sample_ids(seed, "contains", node_ids, 300)
        self.qi = 0

    def points(self, store):
        from pyspark.sql import functions as F

        from geodesk_gol_spark import sqlgen

        return store.filter("ftype = 0 AND NOT is_ghost").select(
            "id", F.col("cx").alias("x"), F.col("cy").alias("y"),
            F.expr(sqlgen.cell_expr("cx")).alias("cell_col"),
            F.expr(sqlgen.cell_expr("cy")).alias("cell_row"))

    def reads(self, store, n: int, queries=None):
        from geodesk_gol_spark.query.run import gol_query

        self.last = {"reads": []}
        for i in range(n):
            if queries is None:
                op = self.queries[self.qi % len(self.queries)]
                self.qi += 1
            else:
                op = queries[i]
            kw = {"bbox": op["bbox"]} if "bbox" in op else {"area": op["area"]}

            def run():
                out = gol_query(store, self.catalog, op["goql"], fmt=op["fmt"], **kw)
                if op["fmt"] == "count":
                    return out
                doc = "".join(r[0] for r in out.collect())
                return len(json.loads(doc)["features"]) if doc else 0

            got = self.ctx.op(op["kind"], "query.run", run)
            if got is not None:
                self.ctx.rows_returned += got
                self.last["reads"].append((op, got))

    def knn(self, store):
        from geodesk_gol_spark.query.spatial import knn_cell_rings

        q = self.ctx.spark.createDataFrame(self.knn_q)
        pts = self.points(store).select("id", "x", "y")
        self.last["knn"] = self.ctx.op(
            "knn", "query.spatial", lambda: knn_cell_rings(pts, q, k=5).collect())

    def contains(self, store):
        from pyspark.sql import functions as F

        from geodesk_gol_spark.query.spatial import contains_join

        def run():
            pts = self.points(store)
            sample = pts.filter(F.col("id").isin(self.contains_ids))
            homes = store.filter("ftype = 1 AND NOT is_ghost")
            return contains_join(sample, self.area_ways(), homes.select("typed_id", "tile_id"),
                                 homes, vertices=pts).collect()

        self.last["contains"] = self.ctx.op("contains", "query.spatial", run)

    def check_reads(self, store):
        """Untimed, on the results of the last reads and joins over
        ``store``: two sampled query counts against an unpruned filter,
        kNN against brute force, contains pairs against a direct
        point-in-polygon test."""
        from pyspark.sql import functions as F

        from geodesk_gol_spark.query.spatial import knn_bruteforce

        ctx = self.ctx
        home = store.filter(~F.col("is_ghost"))
        counted = [(op, n) for op, n in self.last.get("reads", []) if op["fmt"] == "count"]
        for i in gen.sample_ids(ctx.seed, "qcheck", range(len(counted)), 2):
            ctx.wrong += checks.query_vs_unpruned(*counted[i], home)
        pts = self.points(store).select("id", "x", "y")
        if self.last.get("knn") is not None:
            brute = knn_bruteforce(pts, ctx.spark.createDataFrame(self.knn_q), k=5)
            ctx.wrong += checks.knn_vs_bruteforce(self.last["knn"], brute.collect())
        if self.last.get("contains") is not None:
            got = {(int(r.node_id), int(r.way_id)) for r in self.last["contains"]}
            allpts = pts.toPandas()
            sample = allpts[allpts["id"].isin(self.contains_ids)]
            xy = {int(i): (int(x), int(y)) for i, x, y in allpts.itertuples(index=False)}
            rings = {int(r.id): [xy[n] for n in r.node_ids if n in xy]
                     for r in self.area_ways().select("id", "node_ids").collect()}
            ctx.wrong += checks.contains_vs_pip(got, sample, rings)


class Query(_Reads):
    """Seeded closed-loop read mix over the corpus store: blocks of 12
    gol_query reads (bbox, area, GeoJSON export), then one kNN and one
    contains join."""

    cycle_name = "12 reads"
    primary = ("bbox",)
    min_cycles = 2
    needs_corpus = True

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        self.load()
        self.gen_reads()
        self.store = self.ctx.spark.read.parquet(os.path.join(self.build_dir, "store"))

    def cycle(self):
        self.reads(self.store, 12)

    def tail(self):
        self.knn(self.store)
        self.contains(self.store)

    def check(self):
        self.check_reads(self.store)


class Update(_Reads, _Train):
    """A fresh process applies one localized change batch to a live store,
    as a daily ``gol update`` run does, and reads the result: one
    availableNow ``apply_changes_streaming`` call over the corpus's
    ``tile_id=`` store, then 12 gol_query reads of the new epoch.  Runs
    with more time left repeat the cycle with the next batch.

    The traced run then also times one kNN join, one contains join and
    one round of the training-data operators on the final epoch, so the
    per-layer table covers ``query.spatial`` and ``operators.mldf``.
    They stand in for the ``query`` and ``train_ops`` workloads, which
    the benchmark's time budget leaves out of BENCHMARK.json (both stay
    runnable by name); untraced runs skip them for the same budget."""

    cycle_name = "1 batch + 12 reads"
    primary = ("bbox",)
    min_cycles = 1
    needs_corpus = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.feed = os.path.join(ctx.run_dir, "feed")
        self.out = os.path.join(ctx.run_dir, "epochs")
        self.applied: list = []
        self.epochs: list = []
        self.joins_and_ml = ctx.tracer.enabled

    def gen_all(self):
        self.gen_reads()
        if self.joins_and_ml:
            self.gen_ml()
        self.batches = gen.change_batches(
            self.ctx.seed, self.snapshot, self.members, set(self.catalog.tiles["tile_id"]),
            n_batches=N_BATCHES, per_batch=40)

    def setup(self):
        self.load()
        self.base = os.path.join(self.corpus, "store_tiled")
        self.gen_all()
        if self.joins_and_ml:
            self.ml_frames()

    def apply(self):
        b = self.batches[len(self.applied)]
        epoch = self.ctx.op("epoch", "streaming.update", lambda: apply_batch(
            self.ctx.spark, self.catalog, b["rows"], self.feed, self.base, self.out))
        self.applied.append(b)
        self.epochs.append(epoch)
        return epoch

    def cycle(self):
        if len(self.applied) >= len(self.batches):
            raise RuntimeError("ran out of generated change batches")
        epoch = self.apply()
        if epoch is None:
            return
        self.store = self.ctx.spark.read.parquet(os.path.join(self.out, f"epoch={epoch}"))
        self.reads(self.store, 12)

    def tail(self):
        if self.joins_and_ml:
            self.knn(self.store)
            self.contains(self.store)
            self.train_round()

    def check(self):
        from geodesk_gol_spark.streaming.update import merge_changes

        spark = self.ctx.spark
        last = latest_epoch(self.out)
        store = spark.read.parquet(os.path.join(self.out, f"epoch={last}"))
        # against the flat store build_gol wrote, which the corpus checked
        # equal to store_tiled
        base = spark.read.parquet(os.path.join(self.build_dir, "store"))
        allch = spark.read.parquet(self.feed)
        want = merge_changes(base, allch)
        got_h = checks.content_hash(store.select(*STORE_COLUMNS))
        want_h = checks.content_hash(want.select(*STORE_COLUMNS))
        if got_h != want_h:
            self.ctx.wrong.append(
                f"final epoch {got_h} != one-shot merge_changes {want_h}")
        self.check_reads(store)
        if self.joins_and_ml:
            self.check_ml()
        self.ctx.extra.update(epoch_files(
            [self.base] + [os.path.join(self.out, f"epoch={e}") for e in self.epochs],
            sum(len(b["rows"]) for b in self.applied)))
        self.ctx.extra["store_bytes_per_feature"] = _du(
            os.path.join(self.out, f"epoch={last}")) / max(1, got_h[0])


def epoch_files(dirs: list[str], n_changes: int) -> dict[str, float]:
    """Per epoch, from file inodes and sizes, against the epoch (or base
    store) before it in ``dirs``: tile partitions whose files are all
    hard links into the previous one (linked) or not (rewritten), and
    new bytes written per changed feature."""
    linked = rewritten = new_bytes = 0
    for prev, root in zip(dirs, dirs[1:]):
        seen = {os.stat(os.path.join(d, f)).st_ino for d, _, fs in os.walk(prev) for f in fs}
        for part in os.listdir(root):
            pdir = os.path.join(root, part)
            if not part.startswith("tile_id="):
                continue
            fresh = [os.stat(os.path.join(pdir, f)) for f in os.listdir(pdir)
                     if not f.startswith((".", "_"))]
            fresh = [s for s in fresh if s.st_ino not in seen]
            rewritten += bool(fresh)
            linked += not fresh
            new_bytes += sum(s.st_size for s in fresh)
    n = max(1, len(dirs) - 1)
    return {"streaming.update.tiles_rewritten": rewritten / n,
            "streaming.update.tiles_linked": linked / n,
            "streaming.update.bytes_written_per_changed_feature": new_bytes / max(1, n_changes)}


class TrainOps(_Train):
    """The training-data operators in a closed loop, in seeded row order."""

    cycle_name = "dedup_minhash + ann_cosine_topk + window_agg"
    primary = TRAIN_OPS
    min_cycles = 3
    needs_corpus = False

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        self.gen_ml()
        self.ml_frames()

    def cycle(self):
        self.train_round()

    def tail(self):
        pass

    def check(self):
        self.check_ml()


WORKLOADS = {"build": Build, "query": Query, "update": Update, "train_ops": TrainOps}
