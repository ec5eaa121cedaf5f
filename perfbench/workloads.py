"""The three workloads: produce, consume, streams.

Each is a closed loop with one client, which sends its next request only
after the previous reply, the way a Kafka producer or consumer waits. Each
calls the engine's public functions only, checks every result against the
generator's ground truth, and fills a ``Run`` with op latencies, counts,
failures and the end-to-end figures.

With tracing on, each layer call is a span, and a layer's output is
materialized inside its own span (``localCheckpoint`` or a collect), so
the span holds only that layer's work; the untraced loop keeps Spark's
fused plan. A traced run runs every op twice, untraced then traced, on two
client states: the difference between the two is the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import struct
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
from spans import Tracer

FETCH_MAX = 1000  # records per poll
SEEK_EVERY = 10  # poll i is a seek when i % SEEK_EVERY == SEEK_EVERY - 1
SETUP_REPEATS = 3
WARMUP_OPS = 3  # untimed requests before the produce loop
WARMUP_POLLS = SEEK_EVERY  # untimed polls before the consume loop: one cycle
WARMUP_CYCLES = 1  # untimed noop cycles of the Streams jobs before the loop
# Full reads of the stored log after the loop, (untimed, timed): a read of
# the produce log takes ~0.8 s, one of the at-rest log ~0.15 s.
PRODUCE_READBACKS = (2, 7)
AT_REST_READBACKS = (8, 15)
# Appends in the produce log when it is read back: after the loop, untimed
# appends fill it up to this many. A read has a fixed cost besides its
# per-append cost, so records/s would otherwise grow with the number of
# appends a run fitted in (4-10, with host speed), and the read-back
# would double-count the host's speed.
READBACK_APPENDS = 12
# The tail is the 90th percentile of op latency, interpolated between the
# two nearest ops. The highest percentile with ten samples beyond it
# would need 100+ ops for p90; a run holds 5-11 produce requests, so that
# rule would leave only the maximum, the least steady figure there is.
TAIL_QUANTILE = 0.9


@dataclass
class Sizes:
    log_records: int
    request_records: int

    @staticmethod
    def for_run(small: bool) -> "Sizes":
        return Sizes(4_000, 400) if small else Sizes(50_000, 5_000)


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    sizes: Sizes
    work: str
    session_start_s: float
    attempted: int = 0
    failed: int = 0
    latencies: list = field(default_factory=list)
    records: int = 0
    setup_s: list = field(default_factory=list)
    readback: list = field(default_factory=list)  # (records, seconds)
    stored_bytes: int = 0
    user_bytes: int = 0
    layer: dict = field(default_factory=dict)  # per-layer counts
    meta: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def crash(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} raised:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def add(self, key: str, v) -> None:
        self.layer[key] = self.layer.get(key, 0) + v

    def end_to_end(self) -> dict[str, float]:
        """Every end-to-end metric."""
        lat = sorted(self.latencies)
        n = len(lat)
        self.meta["latency_samples"] = n
        self.meta["latency_tail_quantile"] = TAIL_QUANTILE
        self.meta["latencies_ms"] = [round(1000.0 * x, 1) for x in self.latencies]
        busy = sum(lat)
        rb = [r / s for r, s in self.readback]
        return {
            "setup_s": self.session_start_s + statistics.median(self.setup_s),
            "records_per_s": self.records / busy if busy else 0.0,
            "latency_p50_ms": 1000.0 * statistics.median(lat) if lat else 0.0,
            "latency_tail_ms": 1000.0 * _quantile(lat, TAIL_QUANTILE) if lat else 0.0,
            "stored_bytes_per_user_byte": (
                self.stored_bytes / self.user_bytes if self.user_bytes else 0.0
            ),
            "readback_records_per_s": statistics.median(rb) if rb else 0.0,
        }


def _quantile(xs: list[float], q: float) -> float:
    """Linearly interpolated quantile of sorted ``xs``."""
    pos = q * (len(xs) - 1)
    i = int(pos)
    return xs[i] + (xs[min(i + 1, len(xs) - 1)] - xs[i]) * (pos - i)


def measure(wl, run: Run):
    """Run ``wl``'s closed loop for ``run.seconds`` on a fresh client
    state, which it returns. A traced run pairs every traced op with the
    same op untraced on a second state, so both see the same JVM warmth
    and host load; their difference is the tracing overhead. The pair's
    order alternates, because the second run of the same job finds warm
    caches."""
    tr = run.tracer
    state = wl.new_state()
    if not tr.enabled:
        _loop(wl, run, lambda slot: wl.op(state, slot))
        return state
    base = wl.new_state()
    untraced: list[float] = []

    def untraced_op(slot):
        kept = dict(run.layer)  # count only the traced op's work
        with tr.paused():
            untraced.append(wl.op(base, slot)[0])
        run.layer = kept

    def pair(slot):
        if slot % 2:
            out = wl.op(state, slot)
            untraced_op(slot)
            return out
        untraced_op(slot)
        return wl.op(state, slot)

    _loop(wl, run, pair)
    run.layer["trace.untraced_s"] = sum(untraced)
    run.layer["trace.overhead_s"] = sum(run.latencies) - sum(untraced)
    return state


def _loop(wl, run: Run, op) -> None:
    """Closed loop over op slots 0, 1, ... until ``run.seconds`` have
    passed and a whole cycle of the workload's ops is done."""
    cycle = getattr(wl, "CYCLE", 1)
    t0 = time.perf_counter()
    slot = 0
    while slot == 0 or slot % cycle or time.perf_counter() - t0 < run.seconds:
        try:
            latency, records = op(slot)
            run.latencies.append(latency)
            run.records += records
        except Exception:
            run.crash(f"{type(wl).__name__.lower()} op {slot}")
        slot += 1


def _dir_bytes(path: str, skip: tuple = ()) -> tuple[int, int]:
    """(bytes, files) under ``path``, skipping top-level ``skip`` dirs and
    Spark's checksum and marker files."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        if root == path:
            dirs[:] = [d for d in dirs if d not in skip]
        for n in names:
            if n.startswith(".") or n == "_SUCCESS":
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(run: Run, df):
    """Traced runs pin a layer's output inside its span; untraced runs
    keep the lazy plan so Spark fuses it with the next layer."""
    return df.localCheckpoint(eager=True) if run.tracer.enabled else df


def _timed_readbacks(run: Run, name: str, read, n_records: int, counts) -> None:
    """Timed full reads, after untimed ones: a full scan is a path the
    loop's ops barely touch, and its first reads in a JVM are 30-60%
    slower while the JIT compiles it."""
    warmup, repeats = counts
    with run.tracer.paused():
        for _ in range(warmup):
            _noop(read())
    for _ in range(repeats):
        with run.tracer.span(name) as sp:
            _noop(read())
        run.readback.append((n_records, sp["_s"]))
    run.meta["readback_ms"] = [round(1000.0 * s, 1) for _, s in run.readback]


# --------------------------------------------------------------------- #
# produce
# --------------------------------------------------------------------- #


@dataclass
class _Producer:
    log: object  # CommittedLog
    sent: list = field(default_factory=list)  # (request, committed version)
    fresh: int = 0  # fresh requests sent


class Produce:
    """One producer; request = ~5k records as one lz4 RecordBatch v2 per
    partition; about 1 slot in 20 re-sends the previous request's txn_id,
    which must be a no-op."""

    def __init__(self, run: Run):
        from starlight_for_kafka_spark.sources import wire
        from starlight_for_kafka_spark.sources.commitlog import (
            CommittedLog,
            PosixManifestBackend,
        )

        self.run, self.wire, self.CommittedLog = run, wire, CommittedLog

        class CountingBackend(PosixManifestBackend):
            """The engine's manifest seam, counting commit attempts."""

            def put_if_absent(self, key, payload):
                ok = super().put_if_absent(key, payload)
                run.add("commitlog.commit_conflicts", 0 if ok else 1)
                return ok

        self.CountingBackend = CountingBackend
        self.n_logs = 0
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.gen = gen.ProduceGenerator(run.seed, run.sizes.request_records)
            self.new_state()
            run.setup_s.append(time.perf_counter() - t0)
        run.meta["setups_s"] = list(run.setup_s)
        # Warm-up on a throwaway log: class loading, codegen, Python
        # workers, and the steep start of JIT compilation (per-request
        # latency falls ~30% over the first few requests). It ends with a
        # re-send, whose no-op is checked like the timed retries.
        warm = self.new_state()
        warm_ms = run.meta.setdefault("warmup_ms", [])
        with run.tracer.paused():
            for i in range(WARMUP_OPS):
                req = self.gen.request((1 << 30) + i)
                v, latency = self.send(warm, req, retry=False)
                warm_ms.append(round(1000.0 * latency, 1))
            v_again, latency = self.send(warm, req, retry=True)
            warm_ms.append(round(1000.0 * latency, 1))
            run.check(v_again == v, f"warm-up retry committed again (v{v_again} != v{v})")

    def new_state(self) -> "_Producer":
        """A producer with a fresh, empty log of its own."""
        root = os.path.join(self.run.work, f"log{self.n_logs}")
        self.n_logs += 1
        backend = self.CountingBackend(os.path.join(root, "_log"))
        return _Producer(self.CommittedLog(root, backend=backend))

    def send(self, st: "_Producer", req, retry: bool):
        """Decode the request's wire batches, append them under its txn_id.
        Returns (version, latency). Traced runs then time the manifest
        replay that append does first (``snapshot``), outside the request."""
        run, tr, wire = self.run, self.run.tracer, self.wire
        with tr.span("produce.request", req.index) as root:
            blobs = run.spark.createDataFrame(req.blobs, wire.WIRE_BATCH_SCHEMA)
            with tr.span("wire.decode", req.index):
                decoded = _materialize(run, wire.decode_wire_batches(blobs))
            name = "commitlog.noop" if retry else "commitlog.append"
            with tr.span(name, req.index):
                version = st.log.append(decoded, order_col="offset", txn_id=req.txn_id)
        if tr.enabled:
            with tr.span("commitlog.snapshot", req.index):
                st.log.snapshot()
        return version, root["_s"]

    def op(self, st: "_Producer", slot: int):
        run = self.run
        if st.sent and self.gen.is_retry(slot):
            req, v0 = st.sent[-1]
            v, latency = self.send(st, req, retry=True)
            run.check(v == v0, f"retry of {req.txn_id} committed again (v{v} != v{v0})")
            run.add("commitlog.dedup_noops", 1)
            return latency, 0
        req = self.gen.request(st.fresh)
        st.fresh += 1
        last = st.sent[-1][1] if st.sent else -1
        v, latency = self.send(st, req, retry=False)
        run.check(v > last, f"append of {req.txn_id} returned v{v} after v{last}")
        st.sent.append((req, v))
        run.add("commitlog.appends", 1)
        run.add("wire.decode_records", req.n_records)
        run.add("wire.decode_bytes", req.wire_bytes)
        return latency, req.n_records

    def finish(self, st: "_Producer") -> None:
        from starlight_for_kafka_spark.sources.logtable import check_log_integrity

        run, log = self.run, st.log
        with run.tracer.paused():
            while len(st.sent) < READBACK_APPENDS:
                req = self.gen.request(st.fresh)
                st.fresh += 1
                last = st.sent[-1][1] if st.sent else -1
                v, _ = self.send(st, req, retry=False)
                run.check(v > last, f"top-up append of {req.txn_id} returned v{v} after v{last}")
                st.sent.append((req, v))
        want = np.zeros(gen.N_PARTITIONS, dtype=np.int64)
        for req, _ in st.sent:
            want += req.per_partition
        try:
            rows = check_log_integrity(log.read(run.spark)).collect()
            got = {r["partition"]: r for r in rows}
            bad = [
                p
                for p in range(gen.N_PARTITIONS)
                if not (
                    (want[p] == 0 and p not in got)
                    or (
                        p in got
                        and got[p]["n_records"] == want[p]
                        and got[p]["dense"]
                        and got[p]["log_start_offset"] == 0
                        and got[p]["log_end_offset"] == want[p]
                    )
                )
            ]
            run.check(not bad, f"read-back partitions {bad} differ from {want.tolist()}")
        except Exception:
            run.crash("produce read-back")
        # timed reads of the whole log
        _timed_readbacks(
            run,
            "commitlog.read",
            lambda: log.read(run.spark),
            sum(req.n_records for req, _ in st.sent),
            PRODUCE_READBACKS,
        )
        run.user_bytes = sum(req.user_bytes for req, _ in st.sent)
        run.stored_bytes, _ = _dir_bytes(log.root, skip=("_staging",))
        _, data_files = _dir_bytes(os.path.join(log.root, "data"))
        _, manifests = _dir_bytes(os.path.join(log.root, "_log"))
        run.layer["commitlog.data_files"] = data_files
        run.layer["commitlog.manifests"] = manifests
        run.layer["commitlog.files_per_append"] = data_files / len(st.sent)


# --------------------------------------------------------------------- #
# the at-rest log shared by consume and streams
# --------------------------------------------------------------------- #


def _arrow_log(log: gen.AtRestLog):
    """The generated columns as an Arrow table in the engine's log schema
    (zero-copy from the generator's buffers)."""
    import pyarrow as pa

    n = log.n
    key = pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(log.key_off.astype(np.int32)), pa.py_buffer(log.key_data)],
    )
    valid = pa.py_buffer(np.packbits(~log.value_null, bitorder="little"))
    value = pa.Array.from_buffers(
        pa.binary(),
        n,
        [valid, pa.py_buffer(log.value_off.astype(np.int32)), pa.py_buffer(log.value_data)],
        null_count=int(log.value_null.sum()),
    )
    header_t = pa.struct([pa.field("key", pa.string(), False), ("value", pa.binary())])
    cols = {
        "key": key,
        "value": value,
        "headers": pa.array([[]] * n, type=pa.list_(header_t)),
        "timestamp": pa.array(log.ts_ms * 1000, type=pa.timestamp("us", tz="UTC")),
        "partition": pa.array(log.partition, type=pa.int32()),
        "offset": pa.array(log.offset, type=pa.int64()),
    }
    if log.pid is not None:
        status = np.array(["commit", "abort", "open"])[log.txn_status]
        cols.update(
            pid=pa.array(log.pid),
            epoch=pa.array(np.zeros(n, dtype=np.int32)),
            seq=pa.array(log.seq.astype(np.int32)),
            txn_group=pa.array(log.txn_group),
            txn_status=pa.array(status),
        )
    return pa.table(cols)


def _write_at_rest(run: Run, with_txns: bool, path: str):
    """Generate the at-rest log and write it with LogTable.write. Streams
    also get the dimension table and the group commits. Returns the
    generated inputs."""
    from pyspark.sql import functions as F
    from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA, LogTable

    spark, tr = run.spark, run.tracer
    log = gen.make_log(run.seed, run.sizes.log_records, with_txns)
    table = _arrow_log(log)
    df = spark.createDataFrame(table)
    df = df.select(
        *[F.col(f.name).cast(f.dataType) for f in KAFKA_RECORD_SCHEMA.fields],
        *table.column_names[len(KAFKA_RECORD_SCHEMA.fields):],
    )
    with tr.span("logtable.write"):
        LogTable(df).write(os.path.join(path, "log"))
    extra = {}
    if with_txns:
        # inputs beside the log, written straight to parquet: they are not
        # the engine's write path
        import pyarrow as pa
        import pyarrow.parquet as pq

        dim = gen.make_dimension(run.seed)
        kdata, koff = gen.key_bytes(dim)
        dim_key = pa.Array.from_buffers(
            pa.binary(), len(dim), [None, pa.py_buffer(koff.astype(np.int32)), pa.py_buffer(kdata)]
        )
        pq.write_table(
            pa.table(
                {
                    "dim_key": dim_key,
                    "region": pa.array(np.array(["emea", "amer", "apac"])[dim % 3]),
                    "tier": pa.array((dim % 5).astype(np.int32)),
                }
            ),
            os.path.join(path, "dim.parquet"),
        )
        commits = gen.make_commits(run.seed, log)
        n_commits = len(commits["group"])
        pq.write_table(
            pa.table(
                {
                    "group": pa.array(np.char.add("g", commits["group"].astype(str))),
                    "topic": pa.array(np.full(n_commits, "events")),
                    "partition": pa.array(commits["partition"].astype(np.int32)),
                    "offset": pa.array(commits["offset"]),
                    "metadata": pa.array(np.full(n_commits, "")),
                    "commit_ts": pa.array(
                        commits["ts_ms"] * 1000, type=pa.timestamp("us", tz="UTC")
                    ),
                }
            ),
            os.path.join(path, "commits.parquet"),
        )
        extra = {"dim": dim, "commits": commits}
    return log, extra


def _setup_at_rest(run: Run, with_txns: bool):
    """SETUP_REPEATS full set-ups (generate + write). Returns the last
    set-up's inputs and path."""
    for i in range(SETUP_REPEATS):
        path = os.path.join(run.work, f"rest{i}")
        t0 = time.perf_counter()
        log, extra = _write_at_rest(run, with_txns, path)
        run.setup_s.append(time.perf_counter() - t0)
    run.meta["setups_s"] = list(run.setup_s)
    run.user_bytes = log.user_bytes()
    run.stored_bytes, _ = _dir_bytes(os.path.join(path, "log"))
    return log, extra, path


def _read_back_at_rest(run: Run, path: str, n_records: int) -> None:
    from starlight_for_kafka_spark.sources.logtable import LogTable

    _timed_readbacks(
        run,
        "logtable.read",
        lambda: LogTable.read(run.spark, os.path.join(path, "log")).df,
        n_records,
        AT_REST_READBACKS,
    )


# --------------------------------------------------------------------- #
# consume
# --------------------------------------------------------------------- #


class Consume:
    """One consumer polling partitions round-robin from an at-rest log:
    fetch up to 1000 records, encode them as lz4 wire batches (the fetch
    response). Every tenth poll first seeks with offsets_for_times."""

    CYCLE = SEEK_EVERY  # the loop stops on whole cycles: one seek per ten polls

    def __init__(self, run: Run):
        from starlight_for_kafka_spark.sources import wire
        from starlight_for_kafka_spark.sources.logtable import LogTable

        self.run, self.wire = run, wire
        self.gl, _, self.path = _setup_at_rest(run, with_txns=False)
        self.table = LogTable.read(run.spark, os.path.join(self.path, "log"))
        self.ends = self.gl.log_end_offsets()
        self.parts = [p for p in range(gen.N_PARTITIONS) if self.ends[p] > 0]
        self.seek_ts = gen.seek_times(run.seed, 1 << 12)
        # per-partition key+value bytes in offset order, for compression_ratio
        vlen = np.where(self.gl.value_null, 0, np.diff(self.gl.value_off)) + 10
        self.bytes_by_part = {}
        for p in self.parts:
            rows = np.nonzero(self.gl.partition == p)[0]
            cum = np.zeros(len(rows) + 1, dtype=np.int64)
            cum[1:][self.gl.offset[rows]] = vlen[rows]
            self.bytes_by_part[p] = np.cumsum(cum)
        warm = self.new_state()
        warm_ms = run.meta.setdefault("warmup_ms", [])
        with run.tracer.paused():  # warm-up: a seek poll, then plain polls
            for slot in range(SEEK_EVERY - 1, SEEK_EVERY - 1 + WARMUP_POLLS):
                warm_ms.append(round(1000.0 * self.op(warm, slot)[0], 1))
        run.layer.clear()

    def new_state(self) -> np.ndarray:
        """A consumer's position: the next offset of every partition."""
        return np.zeros(gen.N_PARTITIONS, dtype=np.int64)

    def _expected_seek(self, ts_ms: int) -> dict:
        gl = self.gl
        hit = gl.ts_ms >= ts_ms
        out = {}
        for p in np.unique(gl.partition[hit]):
            out[int(p)] = int(gl.offset[hit & (gl.partition == p)].min())
        return out

    def op(self, pos: np.ndarray, slot: int):
        from pyspark.sql import functions as F

        run, tr = self.run, self.run.tracer
        p = self.parts[slot % len(self.parts)]
        seek = slot % SEEK_EVERY == SEEK_EVERY - 1
        with tr.span("consume.poll", slot) as root:
            if seek:
                ts = int(self.seek_ts[slot % len(self.seek_ts)])
                with tr.span("logtable.seek", slot):
                    got = {
                        r["partition"]: r["offset"]
                        for r in self.table.offsets_for_times(
                            F.timestamp_millis(F.lit(ts))
                        ).collect()
                    }
                want = self._expected_seek(ts)
                run.check(got == want, f"offsets_for_times({ts}) {got} != {want}")
                pos[p] = got.get(p, 0)
            start = int(pos[p])
            with tr.span("logtable.fetch", slot):
                fetched = _materialize(
                    run, self.table.fetch(p, start, max_records=FETCH_MAX)
                )
            with tr.span("wire.encode", slot):
                resp = self.wire.encode_wire_batches(fetched, compression="lz4").collect()
        end = min(start + FETCH_MAX, int(self.ends[p]))
        self._check_response(p, start, end, resp)
        n = end - start
        pos[p] = end if end < self.ends[p] else 0
        out_bytes = sum(len(r["batch"]) for r in resp)
        run.add("logtable.fetches", 1)
        run.add("logtable.fetch_records", n)
        run.add("wire.encode_bytes_out", out_bytes)
        cum = self.bytes_by_part[p]
        run.add("wire.encode_user_bytes", int(cum[end] - cum[start]))
        if seek:
            run.add("logtable.seeks", 1)
        return root["_s"], n

    def _check_response(self, p: int, start: int, end: int, resp) -> None:
        """The response covers exactly [start, end) of partition p, batch
        by batch, each batch an lz4 RecordBatch v2 whose header agrees."""
        batches = sorted(
            (r["base_offset"], r["record_count"], r["partition"], bytes(r["batch"]))
            for r in resp
        )
        pos = start
        ok = bool(batches) or start == end
        for base, count, part, blob in batches:
            h_base, = struct.unpack_from(">q", blob, 0)
            magic = blob[16]
            attrs, = struct.unpack_from(">h", blob, 21)
            h_count, = struct.unpack_from(">i", blob, 57)
            ok &= (
                part == p and base == pos and h_base == base and h_count == count
                and magic == 2 and attrs & 7 == 3
            )
            pos = base + count
        ok &= pos == end
        self.run.check(ok, f"fetch p{p} [{start},{end}) got {[(b, c) for b, c, _, _ in batches]}")

    def finish(self, _pos) -> None:
        _read_back_at_rest(self.run, self.path, self.gl.n)


# --------------------------------------------------------------------- #
# streams
# --------------------------------------------------------------------- #


class Streams:
    """Kafka Streams jobs over the at-rest log, each forced through the
    noop sink, run in a fixed cycle. Before timing, one cycle runs each
    job with a check aggregation against ground truth, then
    WARMUP_CYCLES noop cycles warm the JIT."""

    JOBS = [
        ("transactions", "read_committed"),
        ("windows", "keyed_reduce"),
        ("windows", "tumbling_window_agg"),
        ("windows", "session_window_agg"),
        ("ktable", "ktable_latest"),
        ("ktable", "stream_global_table_join"),
        ("groups", "consumer_lag"),
    ]
    CYCLE = len(JOBS)  # the loop stops on whole cycles, so the job mix is fixed

    def __init__(self, run: Run):
        from starlight_for_kafka_spark.sources.logtable import LogTable

        self.run = run
        self.gl, extra, self.path = _setup_at_rest(run, with_txns=True)
        spark = run.spark
        self.log = LogTable.read(spark, os.path.join(self.path, "log")).df
        self.dim = spark.read.parquet(os.path.join(self.path, "dim.parquet"))
        self.commits = spark.read.parquet(os.path.join(self.path, "commits.parquet"))
        self.truth = gen.streams_truth(self.gl, extra["dim"], extra["commits"])
        with run.tracer.paused():
            self._check_all()
            warm_ms = run.meta.setdefault("warmup_ms", [])
            for slot in range(WARMUP_CYCLES * self.CYCLE):
                warm_ms.append(round(1000.0 * self.op(None, slot)[0], 1))
        run.layer = {k: v for k, v in run.layer.items() if not k.endswith("_runs")}

    def new_state(self) -> None:
        """Streams jobs keep no client state between runs."""

    def job(self, name: str):
        from pyspark.sql import functions as F
        from starlight_for_kafka_spark.operators import groups, ktable, transactions, windows
        from starlight_for_kafka_spark.sources.logtable import LogTable

        log = self.log
        if name == "read_committed":
            return transactions.read_committed(log)
        if name == "keyed_reduce":
            return windows.keyed_reduce(
                log,
                ["key"],
                [F.count("*").alias("cnt"), F.sum(F.octet_length("value")).alias("bytes")],
            )
        if name == "tumbling_window_agg":
            return windows.tumbling_window_agg(
                log, "timestamp", "1 hour", ["partition"], [F.count("*").alias("cnt")]
            )
        if name == "session_window_agg":
            return windows.session_window_agg(
                log, ["key"], "timestamp", gen.SESSION_GAP_MS, [F.count("*").alias("cnt")]
            )
        if name == "ktable_latest":
            return ktable.ktable_latest(log, ["key"])
        if name == "stream_global_table_join":
            return ktable.stream_global_table_join(log, self.dim, F.col("key"), "dim_key", "inner")
        if name == "consumer_lag":
            return groups.consumer_lag(self.commits, LogTable(log).latest_offsets())
        raise ValueError(name)

    def _check_all(self) -> None:
        """Each job once, aggregated and compared with ground truth (also
        the warm-up cycle)."""
        from pyspark.sql import functions as F

        run, t = self.run, self.truth
        checks = {
            "read_committed": (lambda df: [df.count()], [t["committed_rows"]]),
            "keyed_reduce": (
                lambda df: list(df.agg(F.count("*"), F.sum("cnt")).first()),
                [t["distinct_keys"], t["window_count_total"]],
            ),
            "tumbling_window_agg": (
                lambda df: list(df.agg(F.count("*"), F.sum("cnt")).first()),
                [t["window_groups"], t["window_count_total"]],
            ),
            "session_window_agg": (
                lambda df: list(df.agg(F.count("*"), F.sum("cnt")).first()),
                [t["sessions"], t["window_count_total"]],
            ),
            "ktable_latest": (lambda df: [df.count()], [t["live_keys"]]),
            "stream_global_table_join": (lambda df: [df.count()], [t["join_rows"]]),
            "consumer_lag": (
                lambda df: list(df.agg(F.count("*"), F.sum("lag")).first()),
                [t["lag_rows"], t["lag_total"]],
            ),
        }
        for layer, name in self.JOBS:
            fn, want = checks[name]
            try:
                got = fn(self.job(name))
                if name == "read_committed":
                    run.layer["transactions.rows_in"] = self.gl.n
                    run.layer["transactions.rows_out"] = got[0]
                run.check(got == want, f"{name}: {got} != ground truth {want}")
            except Exception:
                run.crash(f"streams check {name}")

    def op(self, _state, slot: int):
        layer, name = self.JOBS[slot % len(self.JOBS)]
        with self.run.tracer.span(f"{layer}.{name}", slot) as sp:
            _noop(self.job(name))
        self.run.add(f"{layer}.{name}_runs", 1)
        return sp["_s"], self.gl.n

    def finish(self, _state) -> None:
        _read_back_at_rest(self.run, self.path, self.gl.n)


WORKLOADS = {"produce": Produce, "consume": Consume, "streams": Streams}
