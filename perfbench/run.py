"""Log-engine benchmark: produce, consume and Kafka Streams workloads.

Run from the repository root:

    python3 perfbench/run.py --workload produce --seed 1 --seconds 10 --trace 0

It starts the engine's Spark session on ``local[nproc]``, generates the
workload's inputs from ``--seed`` (perfbench/gen.py), runs one closed-loop
client for ``--seconds``, checks every result against the generator's
ground truth, and prints as its last line one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (Spark UI on, spans written to
``.perfbench/spans/``). The line before it is a report with the metadata
(nproc, CPU steal, failed_ratio, the tail percentile and sample count).
All scratch data lives under ``.perfbench/`` in the working directory and
is removed at exit. See perfbench/README.md for the workloads, metrics
and sizings.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import LAYERS, SPARK_FIELDS, SparkStatus, Tracer  # noqa: E402
from workloads import WORKLOADS, Run, Sizes, Streams, measure  # noqa: E402

END_TO_END = [
    ("latency_p50_ms", "ms", "lower"),
    ("latency_tail_ms", "ms", "lower"),
    ("records_per_s", "1/s", "higher"),
    ("readback_records_per_s", "1/s", "higher"),
    ("stored_bytes_per_user_byte", "ratio", "lower"),
    ("setup_s", "s", "lower"),
]


def per_layer_table() -> list[tuple[str, str, str]]:
    """Every per-layer metric (name, unit, better). Layers a workload does
    not call report 0."""
    rows = [
        ("session.start_s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("session.peak_heap_mb", "MB", "lower"),
        ("wire.decode_s", "s", "lower"),
        ("wire.decode_records", "count", "higher"),
        ("wire.decode_bytes", "bytes", "higher"),
        ("wire.encode_s", "s", "lower"),
        ("wire.encode_bytes_out", "bytes", "lower"),
        ("wire.compression_ratio", "ratio", "higher"),
        ("commitlog.append_s", "s", "lower"),
        ("commitlog.appends", "count", "higher"),
        ("commitlog.snapshot_s", "s", "lower"),
        ("commitlog.noop_s", "s", "lower"),
        ("commitlog.dedup_noops", "count", "higher"),
        ("commitlog.commit_conflicts", "count", "lower"),
        ("commitlog.data_files", "count", "lower"),
        ("commitlog.files_per_append", "ratio", "lower"),
        ("commitlog.manifests", "count", "lower"),
        ("commitlog.read_s", "s", "lower"),
        ("logtable.fetch_s", "s", "lower"),
        ("logtable.fetches", "count", "higher"),
        ("logtable.fetch_records", "count", "higher"),
        ("logtable.files_read_per_fetch", "ratio", "lower"),
        ("logtable.rows_scanned_per_row_returned", "ratio", "lower"),
        ("logtable.seek_s", "s", "lower"),
        ("logtable.write_s", "s", "lower"),
        ("logtable.read_s", "s", "lower"),
    ]
    rows += [(f"{layer}.{job}_s", "s", "lower") for layer, job in Streams.JOBS]
    rows += [
        ("transactions.rows_in", "count", "higher"),
        ("transactions.rows_out", "count", "higher"),
    ]
    rows += [
        (f"{layer}.{f}", unit, better)
        for layer in LAYERS
        for f, unit, better in SPARK_FIELDS
    ]
    rows += [
        ("trace.overhead_s", "s", "lower"),
        ("trace.untraced_s", "s", "lower"),
        ("trace.spans", "count", "lower"),
    ]
    return rows


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(run, status) -> dict[str, float]:
    tr = run.tracer
    layers, scans = status
    c = run.layer
    fetch_records = c.get("logtable.fetch_records", 0)
    fetches = c.get("logtable.fetches", 0)
    m = {
        "session.start_s": run.session_start_s,
        "session.peak_rss_mb": run.meta["peak_rss_mb"],
        "session.peak_heap_mb": run.meta["peak_heap_mb"],
        "wire.decode_s": _median(tr.durations("wire.decode")),
        "wire.encode_s": _median(tr.durations("wire.encode")),
        "wire.compression_ratio": (
            c.get("wire.encode_user_bytes", 0) / c["wire.encode_bytes_out"]
            if c.get("wire.encode_bytes_out")
            else 0.0
        ),
        "commitlog.append_s": _median(tr.durations("commitlog.append")),
        "commitlog.snapshot_s": _median(tr.durations("commitlog.snapshot")),
        "commitlog.noop_s": _median(tr.durations("commitlog.noop")),
        "commitlog.read_s": _median(tr.durations("commitlog.read")),
        "logtable.fetch_s": _median(tr.durations("logtable.fetch")),
        "logtable.files_read_per_fetch": (
            scans.get("logtable.fetch", {}).get("files_read", 0) / fetches if fetches else 0.0
        ),
        "logtable.rows_scanned_per_row_returned": (
            scans.get("logtable.fetch", {}).get("scan_rows", 0) / fetch_records
            if fetch_records
            else 0.0
        ),
        "logtable.seek_s": _median(tr.durations("logtable.seek")),
        "logtable.write_s": _median(tr.durations("logtable.write")),
        "logtable.read_s": _median(tr.durations("logtable.read")),
        "trace.spans": len(tr.spans),
    }
    for layer, job in Streams.JOBS:
        m[f"{layer}.{job}_s"] = _median(tr.durations(f"{layer}.{job}"))
    for layer, fields in layers.items():
        for f, v in fields.items():
            m[f"{layer}.{f}"] = v
    out = {}
    for name, unit, _ in per_layer_table():
        v = m.get(name, c.get(name, 0))
        out[name] = {"value": float(v), "unit": unit}
    return out


def _steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _peak_heap_mb(jvm) -> float:
    """Sum of the peak usage of the driver JVM's heap memory pools (the
    on-heap part of peak_rss_mb; pools peak at different times, so this
    is an upper bound of the heap's peak)."""
    mf = jvm.java.lang.management.ManagementFactory
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().equals(heap)
    ) / (1 << 20)


def _configure_env(work: str, trace: bool) -> int:
    """Pin parallelism to the host, keep every file Spark and the JVM
    write inside the working directory, turn the UI on only when
    tracing. Must run before pyspark starts the JVM."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    # the driver heap stays the engine's own default (SPARK_DRIVER_MEM,
    # else session.py's 8g), so GC and memory are those of the program
    # as shipped
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return nproc


def _stop(spark) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--small", action="store_true", help="tiny inputs, for the smoke test"
    )
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("starlight_for_kafka_spark") is None:
        print(
            "perfbench: the engine package starlight_for_kafka_spark is not in "
            f"{root}; run from the repository root",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    nproc = _configure_env(work, bool(args.trace))
    steal0, ticks0 = _steal_ticks()

    t0 = time.perf_counter()
    from starlight_for_kafka_spark import get_session

    spark = get_session(app=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0

    try:
        tracer = Tracer(spark, bool(args.trace))
        run = Run(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            seconds=args.seconds,
            sizes=Sizes.for_run(args.small),
            work=work,
            session_start_s=session_start_s,
        )
        phases = run.meta.setdefault("phase_s", {"session": session_start_s})
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](run)
        phases["setup_and_warmup"] = time.perf_counter() - t
        t = time.perf_counter()
        state = measure(wl, run)
        phases["measure"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.finish(state)
        phases["finish"] = time.perf_counter() - t
        e2e = run.end_to_end()
        jvm = spark.sparkContext._jvm
        run.meta["peak_rss_mb"] = (
            _vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_kb("self")
        ) / 1024.0
        run.meta["peak_heap_mb"] = _peak_heap_mb(jvm)
        e2e = {name: {"value": float(e2e[name]), "unit": unit} for name, unit, _ in END_TO_END}
        if args.trace:
            status = SparkStatus(spark).per_layer()
            metrics = per_layer(run, status)
            spans_dir = os.path.join(os.path.dirname(work), "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
            tracer.write(spans_path)
            run.meta["spans_file"] = os.path.relpath(spans_path)
        else:
            metrics = e2e
    finally:
        _stop(spark)

    steal1, ticks1 = _steal_ticks()
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "steal_pct": round(100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0), 2),
        "failed_ratio": {"value": run.failed / max(1, run.attempted), "unit": "ratio"},
        "end_to_end": e2e,
        "counts": run.layer,
        **run.meta,
    }
    print(json.dumps({"report": report}, default=float))
    result = {
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
