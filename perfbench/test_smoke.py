"""Smoke test of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q     (from the repo root)

Runs every workload of BENCHMARK.json untraced and traced with ``--small``
and checks that each prints every metric BENCHMARK.json names, with its
unit, and that every correctness check passed; that two generations from
one seed are byte-identical; and that the benchmark fails cleanly in a
directory holding only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# per-layer metrics each workload's traced run must report above zero: the
# layers it calls, their Spark jobs (by job group), and the tracing itself
CALLED = {
    "produce": [
        "session.start_s", "session.peak_rss_mb", "session.peak_heap_mb",
        "wire.decode_s", "wire.decode_records", "wire.decode_bytes",
        "commitlog.append_s", "commitlog.appends", "commitlog.snapshot_s",
        "commitlog.data_files", "commitlog.files_per_append", "commitlog.manifests",
        "commitlog.read_s", "wire.spark_jobs", "wire.tasks", "commitlog.spark_jobs",
        "commitlog.tasks", "commitlog.executor_run_s", "trace.untraced_s", "trace.spans",
    ],
    "consume": [
        "session.start_s", "session.peak_rss_mb", "session.peak_heap_mb",
        "logtable.fetch_s", "logtable.fetches", "logtable.fetch_records",
        "logtable.files_read_per_fetch", "logtable.rows_scanned_per_row_returned",
        "logtable.write_s", "logtable.read_s", "wire.encode_s", "wire.encode_bytes_out",
        "wire.compression_ratio", "logtable.spark_jobs", "logtable.tasks",
        "logtable.executor_run_s", "wire.spark_jobs", "wire.tasks", "trace.untraced_s",
        "trace.spans",
    ],
    "streams": [
        "session.start_s", "session.peak_rss_mb", "session.peak_heap_mb",
        "transactions.read_committed_s", "windows.keyed_reduce_s",
        "windows.tumbling_window_agg_s", "windows.session_window_agg_s",
        "ktable.ktable_latest_s", "ktable.stream_global_table_join_s",
        "groups.consumer_lag_s", "transactions.rows_in", "transactions.rows_out",
        "logtable.write_s", "logtable.read_s", "transactions.spark_jobs",
        "transactions.tasks", "windows.spark_jobs", "windows.tasks",
        "windows.shuffle_write_bytes", "ktable.spark_jobs", "ktable.tasks",
        "groups.spark_jobs", "groups.tasks", "trace.untraced_s", "trace.spans",
    ],
}


def _bench(cwd: str, workload: str, trace: int, seed: int = 3):
    cmd = list(SPEC["command"]) + [
        "--workload", workload, "--seed", str(seed), "--seconds", "2",
        "--trace", str(trace), "--small",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_and_passes_checks(workload, trace):
    p = _bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]
    if trace:
        zero = [n for n in CALLED[workload] if not got[n]["value"] > 0]
    else:
        zero = [m["name"] for m in want if not got[m["name"]]["value"] > 0]
    assert not zero, (zero, got)
    report = json.loads(lines[-2])["report"]
    assert report["failed_ratio"] == {"value": 0.0, "unit": "ratio"}
    assert report["nproc"] == len(os.sched_getaffinity(0))


def test_crc32c_check_value():
    import gen

    assert gen.crc32c(b"123456789") == 0xE3069283  # the CRC-32C check value
    data = bytes(range(256)) * 5 + b"tail"
    crc = 0xFFFFFFFF
    for b in data:  # the plain byte-at-a-time register update
        crc = int(gen._CRC32C_TABLE[(crc ^ b) & 0xFF]) ^ (crc >> 8)
    assert gen.crc32c(data) == crc ^ 0xFFFFFFFF


def test_same_seed_generates_identical_inputs():
    import gen

    def digest(seed):
        log = gen.make_log(seed, 3_000, with_txns=True)
        dim = gen.make_dimension(seed)
        commits = gen.make_commits(seed, log)
        pg = gen.ProduceGenerator(seed, 300)
        reqs = [pg.request(i) for i in range(3)]
        return gen.digest(
            log.key_data, log.value_data, log.value_off, log.value_null, log.ts_ms,
            log.partition, log.offset, log.pid, log.seq, log.txn_status, dim,
            *commits.values(), *[b[3] for r in reqs for b in r.blobs],
            gen.seek_times(seed, 50),
            bytes(pg.is_retry(i) for i in range(200)),
        )

    assert digest(5) == digest(5)
    assert digest(5) != digest(6)


def test_fails_without_the_engine():
    """Only BENCHMARK.json and the benchmark's paths: a non-zero exit and
    no result line."""
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench-bare-") as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path),
                os.path.join(bare, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        p = _bench(bare, SPEC["workloads"][0]["name"], 0)
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
