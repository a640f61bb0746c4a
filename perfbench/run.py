"""Benchmark of the pyramid engine: build + viewport reads, streaming ingest
beside reads, and raster/vector spatial joins.

    python3 perfbench/run.py --workload build_view --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine runs on a ``local[nproc]`` Spark
session driven by one closed-loop client; every output is checked against
the numpy oracles in ``oracles.py``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (from spans and the Spark event
log) with ``--trace 1``. The line before it is a report with the
workload-specific names and the run's host and session facts; the same
report is written to ``.perfbench_out/``. See ``NOTES.md`` for the design.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()


def session_conf(work: str, trace: bool, mem_kb: int) -> dict:
    """Host-sized session: the driver heap is an eighth of MemTotal, the UI
    is off, and scratch space stays inside the work directory."""
    conf = {
        "spark.driver.memory": f"{max(1024, mem_kb // 8192)}m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from procfs import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs and all(xs) else 0.0


def tail(xs):
    """Highest of p75/p90/p95/p99 with at least ten samples beyond it."""
    n = len(xs)
    best = None
    for q in (75, 90, 95, 99):
        if n * (100 - q) / 100 >= 10:
            best = (q, statistics.quantiles(xs, n=100, method="inclusive")[q - 1])
    return {"p": best[0], "value": best[1], "n": n} if best else {"p": None, "value": None, "n": n}


def kernel_timings(seed: int) -> dict:
    """Per-call cost of the tile and geometry kernels on fixed seeded inputs
    (driver process, median of five batches)."""
    import numpy as np

    from pyramidscheme_jl_spark.functions.cells import points_in_polygon
    from pyramidscheme_jl_spark.functions.codec import decode_tile, encode_tile
    from pyramidscheme_jl_spark.functions.reducers import block_reduce
    from pyramidscheme_jl_spark.plans.grid import plan_window

    rng = np.random.default_rng(seed)
    quad = rng.integers(0, 256, (512, 512)).astype(np.float32)
    tile = block_reduce(quad, "mean").astype(np.float32)
    buf = encode_tile(tile)
    px, py = rng.random(100_000) * 1024, rng.random(100_000) * 1024
    ring = [np.array([[614.4, 51.2], [819.2, 122.9], [870.4, 307.2], [665.6, 430.1], [512.0, 225.3]])]

    def per_call(fn, n):
        out = []
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(n):
                fn()
            out.append((time.perf_counter() - t0) / n)
        return statistics.median(out)

    return {
        "functions.codec.encode_us_per_tile": per_call(lambda: encode_tile(tile), 500) * 1e6,
        "functions.codec.decode_us_per_tile":
            per_call(lambda: decode_tile(buf, 256, 256, "float32").sum(), 500) * 1e6,
        "functions.codec.bytes_per_tile": float(len(buf)),
        "functions.reducers.block_reduce_us_per_tile": per_call(lambda: block_reduce(quad, "mean"), 50) * 1e6,
        "functions.cells.points_in_polygon_ns_per_point":
            per_call(lambda: points_in_polygon(px, py, ring), 5) / px.size * 1e9,
        "plans.grid.plan_window_us":
            per_call(lambda: plan_window((8192, 8192), 5, (1000.0, 2000.0, 3048.0, 3024.0)), 2000) * 1e6,
    }


def end_to_end(workload: str, run, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """(metrics by the BENCHMARK.json names, report by workload names). The
    report adds process-tree CPU per item and per op beside the wall-clock
    figures."""
    ok = [r for r in run.ops if r["ok"] and not r.get("probe")]

    def per_op(kind, key, scale=1.0):
        return [r[key] * scale for r in ok if r["kind"] == kind]

    def rate(kind, key):
        return median([r["items"] / r[key] for r in ok if r["kind"] == kind and r[key] > 0])

    f = run.facts
    rep = {}
    if workload == "build_view":
        bulk = "build"
        builds = [r for r in ok if r["kind"] == "build"]
        disk = median([r["bytes_written"] for r in builds]) / f["base_raw_bytes"] if builds else 0.0
        zs = sorted({r["z"] for r in ok if r["kind"] == "view"})

        def op_ms(key):
            return {z: median([r[key] * 1e3 for r in ok if r["kind"] == "view" and r["z"] == z]) for z in zs}

        rep.update(build_bytes_per_base_byte=disk, builds=len(builds),
                   view_p50_ms=median(per_op("view", "wall_s", 1e3)),
                   view_tail_ms=tail(per_op("view", "wall_s", 1e3)))
    else:
        bulk = "ingest"
        disk = f["disk_bytes"] / f["live_bytes"]
        kinds = ("view", "pip", "zonal", "knn_skew", "extract_hot")

        def op_ms(key):
            return {k: median(per_op(k, key, 1e3)) for k in kinds}

        rep.update(ingest_batch_p50_s=median(per_op("ingest", "wall_s")), batches=len(per_op("ingest", "wall_s")),
                   ingest_view_tail_ms=tail(per_op("view", "wall_s", 1e3)),
                   disk_bytes_per_live_byte=disk, pip_rows_per_s=rate("pip", "wall_s"),
                   extract_points_per_s=rate("extract_hot", "wall_s"))
    wall_ms, cpu_ms = op_ms("wall_s"), op_ms("cpu_s")
    rep.update({f"{bulk}_tiles_per_s": rate(bulk, "wall_s"), f"{bulk}_tiles_per_cpu_s": rate(bulk, "cpu_s"),
                "op_p50_ms_by_kind": wall_ms, "op_cpu_ms_by_kind": cpu_ms,
                "setup_s": setup_s, "peak_rss_mb": peak_rss / 2**20,
                "failed_frac": sum(1 for r in run.ops if not r["ok"]) / max(1, len(run.ops))})
    metrics = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (rate(bulk, "wall_s"), "1/s"),
        "op_p50_ms": (geomean(wall_ms.values()), "ms"),
        "disk_bytes_ratio": (disk, "B/B"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, rep


def per_layer(run, tracer, jobs, folded, kernels, e2e) -> dict:
    """Per-layer metrics from the folded spans; zero where a layer did no
    work in this workload."""
    timed = [r for r in run.ops if "span" in r and not r.get("probe")]
    n_ops = max(1, len(timed))
    m: dict[str, float] = {}

    def spans(layer):
        return [folded[r["span"]] for r in timed if r["layer"] == layer]

    def mean(fs, key, scale=1.0):
        return sum(f[key] for f in fs) / len(fs) * scale if fs else 0.0

    b = spans("operators.build")
    for k, key, sc in (("call_s", "wall_s", 1), ("jobs_per_call", "jobs", 1), ("driver_s", "driver_s", 1),
                       ("task_cpu_s", "cpu_s", 1), ("py_worker_s", "py_worker_s", 1),
                       ("shuffle_write_mb", "shuffle_write_b", 1e-6), ("spill_mb", "spill_b", 1e-6),
                       ("gc_s", "gc_s", 1), ("output_mb", "output_b", 1e-6)):
        m[f"operators.build.{k}"] = mean(b, key, sc)
    rd = spans("operators.read")
    reads = [r for r in timed if r["layer"] == "operators.read"]
    tiles = sum(r["tiles"] for r in reads)
    m["operators.read.call_ms"] = mean(rd, "wall_s", 1e3)
    m["operators.read.jobs_per_call"] = mean(rd, "jobs")
    m["operators.read.driver_ms"] = mean(rd, "driver_s", 1e3)
    m["operators.read.tiles_per_call"] = tiles / len(reads) if reads else 0.0
    m["operators.read.scan_rows_per_tile_used"] = sum(f["input_records"] for f in rd) / tiles if tiles else 0.0
    m["plans.grid.plan_window_us"] = kernels["plans.grid.plan_window_us"]
    m["api.open_ms"] = mean(spans("api.open"), "wall_s", 1e3)
    ing = spans("streaming.ingest")
    ing_ops = [r for r in timed if r["layer"] == "streaming.ingest"]
    m["streaming.ingest.batch_s"] = mean(ing, "wall_s")
    m["streaming.ingest.jobs_per_batch"] = mean(ing, "jobs")
    m["streaming.ingest.driver_s"] = mean(ing, "driver_s")
    m["streaming.ingest.task_cpu_s"] = mean(ing, "cpu_s")
    m["streaming.ingest.py_worker_s"] = mean(ing, "py_worker_s")
    m["streaming.ingest.files_per_batch"] = mean(ing_ops, "files_written")
    m["streaming.ingest.tiles_written_per_input_image"] = (
        mean(ing_ops, "items") / run.facts["input_images_per_batch"] if ing_ops else 0.0)
    m["streaming.ingest.bytes_written_per_input_byte"] = (
        mean(ing_ops, "bytes_written") / run.facts["input_bytes_per_batch"] if ing_ops else 0.0)
    m["streaming.ingest.delta_files"] = float(run.facts.get("delta_files", 0))
    for j in ("pip", "zonal", "knn", "extract"):
        fs = spans(f"operators.joins.{j}")
        for k, key, sc in (("call_s", "wall_s", 1), ("jobs_per_call", "jobs", 1), ("driver_s", "driver_s", 1),
                           ("task_cpu_s", "cpu_s", 1), ("py_worker_s", "py_worker_s", 1),
                           ("shuffle_mb", "shuffle_write_b", 1e-6)):
            m[f"operators.joins.{j}.{k}"] = mean(fs, key, sc)
    pip = spans("operators.joins.pip")
    cand = sum(f["rows_by_node"].get("BroadcastHashJoin", 0) for f in pip)
    pairs = sum(f["rows_by_node"].get("MapInPandas", 0) for f in pip)
    m["operators.joins.pip.pairs_per_candidate"] = pairs / cand if cand else 0.0

    def ratio(a, b):
        wa = [r["wall_s"] for r in run.ops if r["ok"] and r["kind"] == a]
        wb = [r["wall_s"] for r in run.ops if r["ok"] and r["kind"] == b]
        return median(wa) / median(wb) if wa and wb else 0.0

    m["operators.joins.knn_skew_over_uniform"] = ratio("knn_skew", "knn_uniform")
    m["operators.joins.extract_hot_over_uniform"] = ratio("extract_hot", "extract_uniform")
    m.update({k: v for k, v in kernels.items() if k != "plans.grid.plan_window_us"})
    timed_span_ids = {s["id"] for s in tracer.spans if s["timed"]}
    tj = [j for j in jobs if j["span"] in timed_span_ids]
    cat = [j for j in tj if j["layer"] == "sources.catalog"]
    m["sources.catalog.jobs"] = len(cat) / n_ops
    m["sources.catalog.job_s"] = sum((j["end"] or j["submit"]) - j["submit"] for j in cat) / n_ops
    m["sources.catalog.output_mb"] = sum(j["output_b"] for j in cat) / 1e6 / n_ops
    m["sources.fsio.files_written"] = sum(r.get("files_written", 0) for r in timed) / n_ops
    m["sources.fsio.bytes_written"] = sum(r.get("bytes_written", 0) for r in timed) / n_ops
    run_s = sum(j["run_s"] for j in tj)
    m["spark.gc_s"] = sum(j["gc_s"] for j in tj) / n_ops
    m["spark.tasks"] = sum(j["tasks"] for j in tj) / n_ops
    m["spark.cpu_per_run"] = sum(j["cpu_s"] for j in tj) / run_s if run_s else 0.0
    first = {}
    for s in tracer.spans:
        first.setdefault(s["name"], s["end"] - s["start"])
    m["session.start_s"] = first.get("session.start", 0.0)
    m["sources.synth.fixture_s"] = first.get("sources.synth.fixture", 0.0)
    # trace self-checks and overhead inputs
    m["trace.unattributed_jobs"] = float(sum(1 for j in jobs if j["span"] is None))
    gaps = [(f["unclipped_union_s"] - f["job_union_s"]) / f["wall_s"]
            for sid, f in folded.items() if sid in timed_span_ids and f["wall_s"] > 0]
    m["trace.max_job_time_outside_span_frac"] = max(gaps, default=0.0)
    m["traced.items_per_s"] = e2e["items_per_s"]["value"]
    m["traced.op_p50_ms"] = e2e["op_p50_ms"]["value"]
    return m


#: metric-name suffix -> unit; the first match wins, anything else is a ratio
UNIT_SUFFIXES = (
    ("_us_per_tile", "us"), ("_ns_per_point", "ns"), ("per_s", "1/s"), ("_us", "us"),
    ("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), ("bytes_per_tile", "B"), ("bytes_written", "B"),
    ("jobs", "count"), ("tasks", "count"), ("files", "count"), ("files_written", "count"),
    ("per_call", "count"), ("per_batch", "count"), ("per_tile_used", "count"),
)


def unit_of(name: str) -> str:
    return next((u for s, u in UNIT_SUFFIXES if name.endswith(s)), "ratio")


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyramidscheme_jl_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, f"{work}/tmp", f"{work}/eventlog", out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    import tempfile

    tempfile.tempdir = f"{work}/tmp"

    import pyspark
    import pyarrow

    from procfs import RssSampler, cpu_jiffies, meminfo_kb
    from spans import Tracer, attribute, fold_spans, jobs_from_events, read_event_log
    from workloads import Run, warm_workers

    from pyramidscheme_jl_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    mem_kb = meminfo_kb()
    trace = bool(args.trace)
    conf = session_conf(work, trace, mem_kb)
    tracer = Tracer(trace)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        with tracer.span("session.start"):
            spark = get_spark(app=f"perfbench-{args.workload}", master=f"local[{nproc}]", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        with tracer.span("setup.warm_workers"):
            warm_workers(spark, nproc)
        selfcheck = None
        if trace:
            with tracer.span("trace.selfcheck") as selfcheck:
                spark.range(0, 100, 1, 2).collect()
                spark.range(0, 100, 1, 2).collect()
        run = Run(spark, tracer, args.seed, args.seconds, work, nproc)
        WORKLOADS[args.workload](run)
        setup_s = run.t_timed - T_START
        steal, total = (b - a for a, b in zip(run.jiffies0, cpu_jiffies()))
        steal_pct = 100.0 * steal / total if total else 0.0
        kernels = kernel_timings(args.seed) if trace else {}
        session_facts = {k: v for k, v in spark.sparkContext.getConf().getAll()
                         if k.startswith("spark.") and "extraJavaOptions" not in k}
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
    metrics, report = end_to_end(args.workload, run, setup_s, rss.peak)
    failed = sum(1 for r in run.ops if not r["ok"])
    attempted = len(run.ops)
    if trace:
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        jobs = attribute(jobs_from_events(read_event_log(f"{work}/eventlog")), tracer.spans)
        folded = fold_spans(jobs, tracer.spans)
        sc_jobs = [j for j in jobs if j["span"] == selfcheck["id"]]
        attempted += 1
        if len(sc_jobs) != 2 or any(j["group"] != selfcheck["id"] for j in sc_jobs) or \
                any(j["span"] is None for j in jobs):
            failed += 1
            print(f"perfbench: trace self-check failed: {len(sc_jobs)} toy jobs, "
                  f"{sum(1 for j in jobs if j['span'] is None)} unattributed", file=sys.stderr)
        layers = per_layer(run, tracer, jobs, folded, kernels, metrics)
        out_metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in layers.items()}
        report["trace_jobs"] = len(jobs)
        detail = {"jobs": jobs, "spans": folded}
    else:
        detail = {}
        out_metrics = metrics
    report.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=trace, nproc=nproc,
        mem_total_kb=mem_kb, spark=pyspark.__version__, pyarrow=pyarrow.__version__,
        steal_pct=steal_pct, session_conf=session_facts,
        ops={k: sum(1 for r in run.ops if r["kind"] == k) for k in {r["kind"] for r in run.ops}},
        errors=[r["error"] for r in run.ops if "error" in r][:5],
    )
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{int(trace)}.json"), "w") as f:
        json.dump({"report": report, "metrics": out_metrics, "ops": run.ops, **detail}, f, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
