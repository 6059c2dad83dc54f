#!/usr/bin/env python3
"""Engine benchmark for helixdb_spark: two seeded closed-loop workloads
(``kv_mix``, ``index_refresh``) driven through the public API
of ``HelixSpark`` and ``AnnIndexStore`` by one client.

Run from the repository root::

    python3 perfbench/run.py --workload kv_mix --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
profile (see perfbench/README.md). The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the run's environment and sample counts. ``--smoke`` runs
a small fixed-length version of the workload for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kv_mix", "index_refresh")
SETUP_REPS = 3
MIN_ROUNDS = 2  # kv_mix passes the retention horizon in each round

E2E = (
    ("setup_s", "s"),
    ("put_jobs", "jobs/op"),
    ("get_jobs", "jobs/op"),
    ("scan_jobs", "jobs/op"),
    ("asof_jobs", "jobs/op"),
    ("write_amp", "ratio"),
    ("space_amp", "ratio"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    from perfbench.tracer import ENGINE_OPS, FSIO_OPS, INDEX_OPS, OP_MEASURES

    names = [(f"{layer}.{op}.{m}", u)
             for layer, ops in (("engine", ENGINE_OPS), ("index_store", INDEX_OPS))
             for op in ops for m, u in OP_MEASURES]
    for op in dict.fromkeys(FSIO_OPS.values()):
        names += [(f"fsio.{op}.calls", "count"), (f"fsio.{op}.ms", "ms")]
    return names + [
        ("maintenance.compact_actions", "count"),
        ("maintenance.outdate_actions", "count"),
        ("codecs.cold_bytes_per_entry", "B/entry"),
        ("codecs.blob_share", "ratio"),
        ("store.hot_files", "count"),
        ("store.cold_files", "count"),
        ("engine.get_many.hit_ratio", "ratio"),
        ("engine.get_many.rows_examined_per_hit", "rows"),
        ("engine.scan.rows_examined_per_row", "rows"),
        ("index_store.refits", "count"),
        ("session.warmup_ms", "ms"),
        ("client.put_p50_ms", "ms"),
        ("client.put_p90_ms", "ms"),
        ("client.get_p50_ms", "ms"),
        ("client.scan_p50_ms", "ms"),
        ("client.asof_p50_ms", "ms"),
        ("client.topk_p50_ms", "ms"),
        ("client.ingest_entries_per_s", "entries/s"),
        ("client.recall_at_10", "ratio"),
    ]


def _env(tmp: str) -> None:
    """Everything a run writes stays under ``tmp``; Python workers import the
    engine from this checkout; Spark gets every CPU and a driver heap sized
    to the box."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, total_kb // (4 << 20)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp


def _session(tmp: str):
    from helixdb_spark.session import get_session

    return get_session("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the gateway process ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _du(*paths: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for p in paths for d, _, files in os.walk(p) for f in files
    )


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")]


def _blob_share(cold: str) -> float:
    """Share of the cold generations' column bytes held by codec blobs."""
    import pyarrow.parquet as pq

    blob = total = 0
    for f in _parquet_files(cold):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                total += col.total_compressed_size
                if col.path_in_schema == "blob":
                    blob += col.total_compressed_size
    return blob / total if total else 0.0


def _next_job_id(sc) -> int:
    """Id the next Spark job will get. Taken from the scheduler, which
    numbers jobs as they are submitted; the status store learns of them
    later, through the listener bus."""
    return sc._jsc.sc().dagScheduler().nextJobId()


def _spark_output_bytes(sc, first: int, end: int) -> int:
    """Bytes written by the completed stages of jobs first..end-1. Call
    after the listener bus has drained."""
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = 0
    for jid in range(first, end):
        for sid in st.getJobInfo(jid).stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "COMPLETE":
                out += sd.outputBytes()
    return out


class PointerBytes:
    """Counts the bytes every state-pointer commit writes. Installed in both
    modes, so traced and untraced runs carry the same wrapper."""

    def __init__(self) -> None:
        from helixdb_spark.fsio import EngineFS

        self.bytes = 0
        self._orig = EngineFS.write_text_cas
        counter = self

        def write_text_cas(fs, p, text, *args, **kwargs):
            counter.bytes += len(text.encode("utf-8"))
            return counter._orig(fs, p, text, *args, **kwargs)

        EngineFS.write_text_cas = write_text_cas

    def uninstall(self) -> None:
        from helixdb_spark.fsio import EngineFS

        EngineFS.write_text_cas = self._orig


def _make(workload: str, spark, root: str, seed: int, scale: str, h):
    from perfbench import workloads as W

    size = W.SIZES[scale][workload]
    if workload == "kv_mix":
        return W.KVMix(spark, root, seed, size, h)
    return W.IndexRefresh(spark, root, seed, size, h)


def _p(values, q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def run(args, tmp: str) -> tuple[dict, dict, dict]:
    counter = PointerBytes()
    t0 = time.perf_counter()
    spark = _session(tmp)
    session_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, tmp, counter, session_s)
    finally:
        counter.uninstall()
        _stop_jvm(spark)


def _measure(args, spark, tmp: str, counter, session_s: float) -> tuple[dict, dict, dict]:
    from perfbench.workloads import Harness

    scale = "smoke" if args.smoke else "full"
    sc = spark.sparkContext
    # The same store is built SETUP_REPS times, each in a fresh directory.
    # The first build is cold; after it, every op kind of the loop runs once
    # (unrecorded) so that no loop sample pays first-plan compilation. The
    # last store is measured on.
    h = Harness(jobs=lambda: _next_job_id(sc))
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        build_jobs0, counter.bytes = _next_job_id(sc), 0
        root = tempfile.mkdtemp(prefix=f"rep{rep}-", dir=tmp)
        w = _make(args.workload, spark, root, args.seed, scale, h)
        w.build()
        reps.append(time.perf_counter() - t0)
        if rep == 0:
            w.warm()
    tracer = None
    if args.trace:
        from perfbench.tracer import Tracer

        tracer = Tracer(spark)
        tracer.install()

    jobs0 = _next_job_id(sc)
    t_loop = time.perf_counter()
    deadline = t_loop + args.seconds
    rounds, checkpoint = 0, None
    while rounds < MIN_ROUNDS or (
        not args.smoke and time.perf_counter() < deadline
        and (w.max_rounds is None or rounds < w.max_rounds)
    ):
        w.round()
        rounds += 1
        if rounds == MIN_ROUNDS:
            m = w.model
            checkpoint = {
                "jobs": (build_jobs0, _next_job_id(sc)),
                "pointer_bytes": counter.bytes,
                "user_bytes": m.bytes_put,
                "space_amp": _du(*w.dirs()) / m.live_bytes(),
            }
    loop_s = time.perf_counter() - t_loop
    loop_jobs = _next_job_id(sc) - jobs0
    write_ivf_in_loop = tracer.calls("index_store.write_ivf") if tracer else 0
    t0 = time.perf_counter()
    w.finish()
    finish_s = time.perf_counter() - t0
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    s = h.samples
    jobs_per = {k: statistics.mean(b - a for a, b in v) for k, v in h.job_ranges.items()}
    written = _spark_output_bytes(sc, *checkpoint["jobs"]) + checkpoint["pointer_bytes"]
    e2e = {
        "setup_s": statistics.median(reps),
        "put_jobs": jobs_per["put"],
        "get_jobs": jobs_per["get_many"],
        "scan_jobs": jobs_per["scan"],
        "asof_jobs": jobs_per["get_many_asof"],
        "write_amp": written / checkpoint["user_bytes"],
        "space_amp": checkpoint["space_amp"],
    }
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark": spark.version, "python": sys.version.split()[0],
        "session_s": round(session_s, 3),
        "setup_reps_s": [round(r, 3) for r in reps],
        "rounds": rounds, "loop_s": round(loop_s, 3), "loop_jobs": loop_jobs,
        "finish_s": round(finish_s, 3),
        "ops_ms": {k: [round(x) for x in v] for k, v in s.items()},
        "jobs_per_op": {k: round(v, 3) for k, v in jobs_per.items()},
        "client": {k: round(v, 3) for k, v in _client(w, h).items()},
    }
    layers = {}
    if tracer is not None:
        layers = _layers(tracer, w, h, reps, write_ivf_in_loop)
        tracer.uninstall()
        spans = os.path.join(ROOT, ".perfbench_spans")
        os.makedirs(spans, exist_ok=True)
        tracer.dump(os.path.join(spans, f"{args.workload}-seed{args.seed}.jsonl"))
    return e2e, layers, {"info": info, "attempted": h.attempted, "failed": h.failed}


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _client(w, h) -> dict[str, float]:
    """What the client saw, in wall time: latencies, throughput, recall."""
    s = h.samples
    recalls = getattr(w, "recalls", [])
    return {
        "put_p50_ms": _median(s["put"]),
        "put_p90_ms": _p(s["put"], 0.9),
        "get_p50_ms": _median(s["get_many"]),
        "scan_p50_ms": _median(s["scan"]),
        "asof_p50_ms": _median(s["get_many_asof"]),
        "topk_p50_ms": _median(s["ivf_topk"]),
        "ingest_entries_per_s": w.kv.entries_put / w.kv.put_s,
        "recall_at_10": statistics.mean(recalls) if recalls else 0.0,
    }


def _layers(tracer, w, h, reps, write_ivf_in_loop) -> dict:
    from perfbench.tracer import ENGINE_OPS, FSIO_OPS, INDEX_OPS, op_measures

    prof = tracer.layer_profile()
    out: dict[str, float] = {}
    for layer, ops in (("engine", ENGINE_OPS), ("index_store", INDEX_OPS)):
        for op in ops:
            for m, v in op_measures(prof.get(f"{layer}.{op}")).items():
                out[f"{layer}.{op}.{m}"] = v
    for op in dict.fromkeys(FSIO_OPS.values()):
        acc = prof.get(f"fsio.{op}")
        out[f"fsio.{op}.calls"] = float(acc["calls"]) if acc else 0.0
        out[f"fsio.{op}.ms"] = acc["total_s"] * 1e3 if acc else 0.0
    out["maintenance.compact_actions"] = float(tracer.actions["compact"])
    out["maintenance.outdate_actions"] = float(tracer.actions["outdate"])
    db_dir = w.dirs()[0]
    cold = os.path.join(db_dir, "cold")
    cold_entries = w.model.live_entries_below(w.model.last_compacted)
    out["codecs.cold_bytes_per_entry"] = _du(cold) / cold_entries if cold_entries else 0.0
    out["codecs.blob_share"] = _blob_share(cold)
    out["store.hot_files"] = float(len(_parquet_files(os.path.join(db_dir, "hot"))))
    out["store.cold_files"] = float(len(_parquet_files(cold)))
    hits, probes, rows = h.counts["get_hits"], h.counts["get_probes"], h.counts["scan_rows"]
    gm, scan = prof.get("engine.get_many"), prof.get("engine.scan")
    out["engine.get_many.hit_ratio"] = hits / probes if probes else 0.0
    out["engine.get_many.rows_examined_per_hit"] = gm["input_records"] / hits if gm and hits else 0.0
    out["engine.scan.rows_examined_per_row"] = scan["input_records"] / rows if scan and rows else 0.0
    out["index_store.refits"] = float(write_ivf_in_loop)
    out["session.warmup_ms"] = (reps[0] - statistics.median(reps[1:])) * 1e3
    out.update({f"client.{k}": v for k, v in _client(w, h).items()})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small fixed-length run for the benchmark's own tests")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "helixdb_spark", "engine.py")):
        print(f"perfbench: no helixdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    # a terminated run still removes its directory and closes the JVM's stdin
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        _env(tmp)
        e2e, layers, res = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    names = per_layer_names() if args.trace else E2E
    values = layers if args.trace else e2e
    print(json.dumps(res["info"]))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
