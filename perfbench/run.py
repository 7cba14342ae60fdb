"""Benchmark entry point.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process runs one workload as a single
closed-loop client on a ``local[<cores>]`` Spark session, then checks
its outputs and prints, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` turns on the Spark event
log and span recording and reports the per-layer metrics instead.
Everything the run writes stays under ``.perfbench/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "geodesk_gol_spark"


def process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def code_key(root: str) -> str:
    """Hash of the sources the corpus cache depends on: the engine, and
    the benchmark modules that generate, build and hash the corpus."""
    h = hashlib.sha256()
    files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, ENGINE))
             for f in fs if f.endswith(".py")]
    files += [os.path.join(HERE, f) for f in ("gen.py", "workloads.py", "checks.py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile; failed operations enter as +inf."""
    if not xs:
        return math.inf
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


class Ctx:
    """State one run shares with its workload."""

    def __init__(self, root, seed, tracer, run_dir, cache_root):
        self.seed, self.tracer = seed, tracer
        self.run_dir, self.cache_root = run_dir, cache_root
        self.code_key = code_key(root)
        self.spark = None
        self.timing = False
        self.ops: list[tuple[str, float, bool]] = []   # (kind, seconds, ok) in the timed loop
        self.wrong: list[str] = []
        self.extra: dict[str, float] = {}
        self.rows_returned = 0

    def op(self, kind, layer, fn):
        """Run one operation inside its layer's span.  In the timed loop
        it is recorded, and a failure is counted and the loop goes on;
        outside it a failure propagates."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer or "bench", kind):
                out = fn()
        except Exception:
            if not self.timing:
                raise
            traceback.print_exc()
            self.ops.append((kind, time.perf_counter() - t0, False))
            return None
        if self.timing:
            self.ops.append((kind, time.perf_counter() - t0, True))
        return out

    def latencies(self, *kinds) -> list[float]:
        return [s if ok else math.inf for k, s, ok in self.ops if not kinds or k in kinds]


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def per_layer(ctx, table: dict) -> dict[str, float]:
    """Every per-layer metric named in BENCHMARK.json (0 for a layer the
    workload does not call)."""
    from spans import COUNTERS, LAYERS, SESSION_COUNTERS

    out = {}
    for layer in LAYERS:
        for c in SESSION_COUNTERS if layer == "session" else COUNTERS:
            out[f"{layer}.{c}"] = float(table.get(layer, {}).get(c, 0.0))

    def med(kind, scale):
        xs = ctx.latencies(kind)
        return statistics.median(xs) * scale if xs else 0.0

    qr = table.get("query.run", {})
    out["query.run.rows_read_per_row_returned"] = (
        qr.get("records_read", 0.0) / ctx.rows_returned if ctx.rows_returned else 0.0)
    for kind in ("bbox", "area", "export"):
        out[f"query.run.{kind}_p50_ms"] = med(kind, 1e3)
    out["query.spatial.knn_p50_s"] = med("knn", 1)
    out["query.spatial.contains_p50_s"] = med("contains", 1)
    for k in ("operators.assign.copies_per_feature", "operators.assign.j6_pending_supers",
              "operators.assign.j6_residue_edges", "operators.compile_tiles.store_files",
              "streaming.update.tiles_rewritten", "streaming.update.tiles_linked",
              "streaming.update.bytes_written_per_changed_feature"):
        out[k] = float(ctx.extra.get(k, 0.0))
    for op in ("dedup_minhash", "ann_cosine_topk", "window_agg"):
        out[f"operators.mldf.{op}_s"] = med(op, 1)
    return out


def named_metrics(name: str, ctx) -> dict[str, tuple[float, str, int]]:
    """The workload's own named metrics: (value, unit, samples)."""
    out = {}
    reads = ctx.latencies("bbox", "area", "export")
    joins = ctx.latencies("knn", "contains")
    if name == "build":
        b = ctx.latencies("build")
        out["build_s"] = (statistics.median(b), "s", len(b))
    if reads:
        out["query_p50_ms"] = (pct(reads, 0.5) * 1e3, "ms", len(reads))
        # the highest percentile with at least ten samples beyond it
        q = 1 - 10 / len(reads)
        if q > 0.5:
            out[f"query_p{int(q * 100)}_ms"] = (pct(reads, q) * 1e3, "ms", len(reads))
    if joins:
        out["join_p50_s"] = (pct(joins, 0.5), "s", len(joins))
    if ctx.latencies("epoch"):
        e = ctx.latencies("epoch")
        out["epoch_p50_s"] = (pct(e, 0.5), "s", len(e))
    if name == "train_ops":
        ops = ("dedup_minhash", "ann_cosine_topk", "window_agg")
        out["train_ops_s"] = (sum(pct(ctx.latencies(o), 0.5) for o in ops), "s",
                              len(ctx.latencies(*ops)))
    if "store_bytes_per_feature" in ctx.extra:
        out["store_bytes_per_feature"] = (ctx.extra["store_bytes_per_feature"], "B", 1)
    n = len(ctx.ops)
    out["failed_ops_frac"] = (sum(not ok for _, _, ok in ctx.ops) / max(1, n), "ratio", n)
    out["wrong_results"] = (float(len(ctx.wrong)), "count", 1)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    t_start = process_start()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"run.py: no {ENGINE} package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from spans import (
        LAYERS, RssSampler, Tracer, cpu_ticks, tree_cpu_s, layer_table, load_1m, parse_event_log,
        per_layer_spec,
    )

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    state = os.path.join(root, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(state, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(os.path.join(state, "cache"), exist_ok=True)
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # the engine's opt-out of its session prewarm: with it, a build
        # run takes 6-14 s longer on 4 cores (the prewarm costs ~15 s and
        # saves the build 5-10 s), and a full pass of fresh-JVM runs has
        # a fixed time budget
        "SPARK_GRAFT_PREWARM": "0",
    })

    tracer = Tracer(bool(args.trace), run_id)
    ctx = Ctx(root, args.seed, tracer, run_dir, os.path.join(state, "cache"))
    wl = workloads.WORKLOADS[args.workload](ctx)
    from geodesk_gol_spark.session import get_spark

    def session():
        return get_spark(f"local[{ncpu}]", app_name=f"perfbench-{run_id}",
                         extra=spark_conf(run_dir, bool(args.trace)))

    if args.corpus_only:
        ctx.spark = session()
        try:
            workloads.corpus(ctx)
        finally:
            stop_spark(ctx.spark)
            shutil.rmtree(run_dir, ignore_errors=True)
        return 0
    corpus_s = corpus_cpu = 0.0
    if wl.needs_corpus and not workloads.corpus_ready(ctx):
        # built once per checkout by a child process, so this run's own
        # JVM starts cold like every other run's; its time is reported
        # on a # line and kept out of setup_s
        c0, cpu0 = time.time(), tree_cpu_s(os.getpid())
        subprocess.run([sys.executable, os.path.abspath(__file__), "--corpus-only",
                        "--workload", args.workload, "--seed", "0", "--seconds", "0"],
                       check=True)
        corpus_s, corpus_cpu = time.time() - c0, tree_cpu_s(os.getpid()) - cpu0
    cycles: list[float] = []
    cycle_cpu: list[float] = []
    try:
        # peak RSS covers set-up and the timed region, not the checks
        with RssSampler(os.getpid()) as rss, tracer.span("run", "workload"):
            # CPU time of this process and its descendants, less the
            # memory sampling's own
            cpu = lambda: tree_cpu_s(os.getpid()) - rss.cpu_s  # noqa: E731

            with tracer.span("session", "get_spark"):
                ctx.spark = session()
            wl.setup()
            t_setup = time.time()
            setup_cpu = cpu() - corpus_cpu
            steal0, total0 = cpu_ticks()
            ctx.timing = True
            t0 = time.perf_counter()
            while True:
                c0, cpu0 = time.perf_counter(), cpu()
                wl.cycle()
                cycles.append(time.perf_counter() - c0)
                cycle_cpu.append(cpu() - cpu0)
                if time.perf_counter() - t0 >= args.seconds and len(cycles) >= wl.min_cycles:
                    break
            wl.tail()
            timed_s = time.perf_counter() - t0
            ctx.timing = False
            steal1, total1 = cpu_ticks()
            load = load_1m()
        t_check = time.time()
        wl.check()
        t_stop = time.time()
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)

    setup_wall = t_setup - t_start - corpus_s
    cpu_s = statistics.median(cycle_cpu)
    n_fail = sum(not ok for _, _, ok in ctx.ops)
    host = {"steal_pct": 100 * (steal1 - steal0) / max(1, total1 - total0),
            "load_1m": load, "cpus": ncpu}
    if args.trace:
        table = layer_table(tracer.spans, parse_event_log(os.path.join(run_dir, "eventlog")))
        units = {n: u for n, u, _ in per_layer_spec()}
        metrics = {k: (v, units[k]) for k, v in per_layer(ctx, table).items()}
    else:
        table = {}
        # CPU seconds, not wall time: steal from other tenants of the
        # host stretches wall time far more
        metrics = {
            "cycle_cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (rss.peak, "MB"),
            "setup_s": (setup_cpu, "s"),
        }
    wall = {"setup_s": setup_wall, "cycle_s": statistics.median(cycles),
            "op_p50_ms": pct(ctx.latencies(*wl.primary), 0.5) * 1e3}

    named = named_metrics(args.workload, ctx)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "timed_s": timed_s, "cycles": len(cycles),
        "cycle": wl.cycle_name, "host": host, "corpus_s": corpus_s,
        "phases_s": {"setup": t_setup - t_start, "timed": timed_s,
                     "check": t_stop - t_check, "stop": time.time() - t_stop},
        "setup_s": setup_cpu, "peak_rss_mb": rss.peak, "cycle_cpu_s": cpu_s,
        "wall": wall, "named": named, "wrong": ctx.wrong,
        "ops": ctx.ops, "layers": table,
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(state, "results", f"{run_id}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(state, "results", f"{run_id}-{stamp}.spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} cycles={len(cycles)} "
          f"({wl.cycle_name}) timed={timed_s:.1f}s steal={host['steal_pct']:.2f}% "
          f"load1={load:.2f} cpus={ncpu} corpus_build={corpus_s:.1f}s phases=" + " ".join(
              f"{k}:{v:.1f}" for k, v in record["phases_s"].items()))
    print("# wall: " + " ".join(f"{k}={v:.4f}" for k, v in wall.items()))
    for k, (v, unit, n) in named.items():
        print(f"#   {k} = {v:.4f} {unit} (n={n})")
    for w in ctx.wrong:
        print(f"# WRONG: {w}")
    if args.trace:
        layers_s = sum(table[layer]["wall_s"] for layer in LAYERS if layer in table)
        root_s = next((s.seconds for s in tracer.spans if s.layer == "run"), 0.0)
        print(f"# traced: cycle_cpu_s={cpu_s:.4f} setup_s={setup_cpu:.4f} "
              f"peak_rss_mb={rss.peak:.1f}; layer wall {layers_s:.2f}s of {root_s:.2f}s run span")
        for layer, t in sorted(table.items()):
            print(f"#   {layer:26s} " + " ".join(f"{k}={v:.3f}" for k, v in t.items()))

    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if bad:
        print(f"run.py: no finite value for {bad} ({n_fail} of {len(ctx.ops)} ops failed)",
              file=sys.stderr)
        return 1
    out = {"correct": not ctx.wrong, "attempted": len(ctx.ops), "failed": n_fail,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
