"""Seeded input generator for the log-engine benchmark.

Everything the engine under test receives is made here from ``--seed``
with NumPy and the Kafka protocol spec: keys, values, timestamps,
transaction outcomes, the dimension table, consumer-group commits and the
produce requests (lz4 RecordBatch v2 blobs). Nothing is read from a test
data directory and no ``derive_*`` fixture helper of the engine is used,
so the shares below are the generator's own, and the ground truth the
checks compare against is computed here, independently of the engine.

The same seed gives byte-identical inputs: every random draw comes from a
``numpy.random.Generator`` seeded with ``(seed, purpose, index)``, and the
RecordBatch encoder below is deterministic (pyarrow's LZ4 frame
compressor included).
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass

import numpy as np

N_PARTITIONS = 16
N_KEYS = 100_000
ZIPF_S = 1.2
BASE_TS_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
LOG_SPAN_MS = 48 * 3_600_000  # the at-rest log covers two days
TS_JITTER_MS = 2_000  # producer clock skew: some records arrive out of order
VALUE_MIN, VALUE_MAX = 150, 250  # ~200 B values
TOMBSTONE_SHARE = 0.02  # at-rest log only: null values for the KTable view
N_PIDS_PER_PARTITION = 16
TXN_SIZE = 10
ABORT_SHARE = 0.10
OPEN_SHARE = 0.01
DIM_KEY_SHARE = 0.9  # share of the key space the dimension table covers
N_GROUPS = 8
COMMITS_PER_GROUP_PARTITION = 40
SESSION_GAP_MS = 30 * 60_000
WINDOW_MS = 3_600_000

# purposes for the per-draw generators, so adding a draw to one input
# never shifts another input's random stream
_VOCAB, _LOG, _TXN, _DIM, _COMMITS, _REQ, _SEEK, _KEYS = range(8)


def _rng(seed: int, purpose: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, purpose, index])


# --------------------------------------------------------------------- #
# keys, values, timestamps
# --------------------------------------------------------------------- #


@dataclass
class Vocab:
    """Seeded word list packed as one byte buffer; every word carries its
    trailing space, so a value is a slice of a concatenated word stream."""

    buf: np.ndarray  # uint8
    off: np.ndarray  # int64 start of each word
    length: np.ndarray  # int64 length of each word, space included


def make_vocab(seed: int, n_words: int = 2048) -> Vocab:
    rng = _rng(seed, _VOCAB)
    lens = rng.integers(2, 11, n_words)
    letters = rng.integers(ord("a"), ord("z") + 1, int(lens.sum()))
    words = np.empty(int(lens.sum()) + n_words, dtype=np.uint8)
    off = np.concatenate(([0], np.cumsum(lens + 1)[:-1]))
    # scatter letters then spaces: word i occupies off[i] .. off[i]+lens[i]
    letter_pos = np.repeat(off - np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
    letter_pos += np.arange(int(lens.sum()))
    words[letter_pos] = letters
    words[off + lens] = ord(" ")
    return Vocab(words, off.astype(np.int64), (lens + 1).astype(np.int64))


def _word_stream(vocab: Vocab, rng: np.random.Generator, n_bytes: int) -> np.ndarray:
    """At least ``n_bytes`` of text, words drawn uniformly from ``vocab``."""
    mean = float(vocab.length.mean())
    n_words = int(n_bytes / mean * 1.1) + 64
    out = []
    have = 0
    while have < n_bytes:
        ids = rng.integers(0, len(vocab.off), n_words)
        lens = vocab.length[ids]
        starts = vocab.off[ids]
        idx = np.repeat(starts - (np.cumsum(lens) - lens), lens)
        idx += np.arange(int(lens.sum()))
        chunk = vocab.buf[idx]
        out.append(chunk)
        have += len(chunk)
    return np.concatenate(out) if len(out) > 1 else out[0]


def make_values(
    vocab: Vocab, rng: np.random.Generator, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` values of VALUE_MIN..VALUE_MAX bytes as (data, offsets) —
    the Arrow binary layout, value i = data[offsets[i]:offsets[i+1]]."""
    lens = rng.integers(VALUE_MIN, VALUE_MAX + 1, n)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    data = _word_stream(vocab, rng, int(offsets[-1]))[: int(offsets[-1])]
    return data, offsets


def zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, N_KEYS + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def key_permutation(seed: int) -> np.ndarray:
    """Rank -> key id, so the hottest keys land on seeded partitions."""
    return _rng(seed, _KEYS).permutation(N_KEYS)


def draw_keys(
    rng: np.random.Generator, cdf: np.ndarray, perm: np.ndarray, n: int
) -> np.ndarray:
    ranks = np.searchsorted(cdf, rng.random(n), side="right")
    return perm[np.minimum(ranks, N_KEYS - 1)]


def key_partition(key_ids: np.ndarray) -> np.ndarray:
    """Key-hash routing (a Fibonacci hash of the key id)."""
    h = (key_ids.astype(np.uint64) * np.uint64(11400714819323198485)) >> np.uint64(40)
    return (h % np.uint64(N_PARTITIONS)).astype(np.int32)


def key_bytes(key_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Keys as fixed-width ASCII ``key-NNNNNN`` (10 B), Arrow layout."""
    digits = np.empty((len(key_ids), 10), dtype=np.uint8)
    digits[:, :4] = np.frombuffer(b"key-", dtype=np.uint8)
    k = key_ids.astype(np.int64).copy()
    for col in range(9, 3, -1):
        digits[:, col] = ord("0") + k % 10
        k //= 10
    return digits.reshape(-1), np.arange(0, 10 * len(key_ids) + 1, 10, dtype=np.int64)


def key_name(key_id: int) -> bytes:
    return b"key-%06d" % key_id


# --------------------------------------------------------------------- #
# the at-rest log (consume and streams workloads)
# --------------------------------------------------------------------- #


@dataclass
class AtRestLog:
    """Columns of the generated log, in arrival order, with dense
    per-partition offsets; ``value_off`` is the Arrow offsets array and a
    tombstone is a null value (``value_null``)."""

    key_id: np.ndarray
    partition: np.ndarray
    offset: np.ndarray
    ts_ms: np.ndarray
    key_data: np.ndarray
    key_off: np.ndarray
    value_data: np.ndarray
    value_off: np.ndarray
    value_null: np.ndarray
    # transaction columns (streams only)
    pid: np.ndarray | None = None
    seq: np.ndarray | None = None
    txn_group: np.ndarray | None = None
    txn_status: np.ndarray | None = None  # 0 commit, 1 abort, 2 open

    @property
    def n(self) -> int:
        return len(self.key_id)

    def log_end_offsets(self) -> np.ndarray:
        return np.bincount(self.partition, minlength=N_PARTITIONS).astype(np.int64)

    def user_bytes(self) -> int:
        """key+value bytes, the base of stored_bytes_per_user_byte."""
        vlen = np.diff(self.value_off)
        return int(10 * self.n + vlen[~self.value_null].sum())


def dense_offsets(partition: np.ndarray) -> np.ndarray:
    """Per-partition arrival index: record i's offset in its partition."""
    order = np.argsort(partition, kind="stable")
    counts = np.bincount(partition, minlength=N_PARTITIONS)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    off = np.empty(len(partition), dtype=np.int64)
    off[order] = np.arange(len(partition)) - np.repeat(starts, counts)
    return off


def make_log(seed: int, n: int, with_txns: bool) -> AtRestLog:
    rng = _rng(seed, _LOG)
    vocab = make_vocab(seed)
    key_id = draw_keys(rng, zipf_cdf(), key_permutation(seed), n)
    part = key_partition(key_id)
    ts = BASE_TS_MS + (np.arange(n, dtype=np.int64) * LOG_SPAN_MS) // max(n, 1)
    ts += rng.integers(-TS_JITTER_MS, TS_JITTER_MS + 1, n)
    vdata, voff = make_values(vocab, rng, n)
    null = rng.random(n) < TOMBSTONE_SHARE
    kdata, koff = key_bytes(key_id)
    log = AtRestLog(key_id, part, dense_offsets(part), ts, kdata, koff, vdata, voff, null)
    if with_txns:
        _add_txns(seed, log)
    return log


def _add_txns(seed: int, log: AtRestLog) -> None:
    """Transactions per producer lane (partition, pid): each lane's records
    form consecutive transactions of TXN_SIZE records, so one lane never
    has two transactions in flight (the Kafka producer contract) and an
    aborted span never covers a committed record of the same pid. About
    ABORT_SHARE of transactions abort; OPEN_SHARE stay open, drawn from
    the newest transaction of each lane (an open transaction is by nature
    the latest one its producer started)."""
    rng = _rng(seed, _TXN)
    n = log.n
    local_pid = rng.integers(0, N_PIDS_PER_PARTITION, n)
    pid = log.partition.astype(np.int64) * N_PIDS_PER_PARTITION + local_pid
    seq = dense_index(pid)
    txn_group = seq // TXN_SIZE
    # one outcome per (pid, txn_group)
    n_txn_per_pid = np.bincount(pid, minlength=N_PARTITIONS * N_PIDS_PER_PARTITION)
    n_txn_per_pid = (n_txn_per_pid + TXN_SIZE - 1) // TXN_SIZE
    txn_base = np.concatenate(([0], np.cumsum(n_txn_per_pid)[:-1])).astype(np.int64)
    n_txns = int(n_txn_per_pid.sum())
    outcome = np.where(rng.random(n_txns) < ABORT_SHARE, 1, 0).astype(np.int8)
    lanes = np.nonzero(n_txn_per_pid)[0]
    n_open = min(len(lanes), max(1, round(OPEN_SHARE * n_txns)))
    open_lanes = rng.choice(lanes, n_open, replace=False)
    outcome[txn_base[open_lanes] + n_txn_per_pid[open_lanes].astype(np.int64) - 1] = 2
    log.pid = pid
    log.seq = seq
    log.txn_group = txn_group
    log.txn_status = outcome[txn_base[pid] + txn_group]


def dense_index(group: np.ndarray) -> np.ndarray:
    """0,1,2,... within each group value, in array order."""
    order = np.argsort(group, kind="stable")
    counts = np.bincount(group)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    idx = np.empty(len(group), dtype=np.int64)
    idx[order] = np.arange(len(group)) - np.repeat(starts, counts)
    return idx


def make_dimension(seed: int) -> np.ndarray:
    """Key ids present in the 100k-key dimension table (a seeded
    DIM_KEY_SHARE subset; the rest of the key space misses the join)."""
    rng = _rng(seed, _DIM)
    return np.sort(rng.choice(N_KEYS, int(N_KEYS * DIM_KEY_SHARE), replace=False))


def make_commits(seed: int, log: AtRestLog) -> dict[str, np.ndarray]:
    """Consumer-group offset commits: every group commits increasing
    positions on every partition, the last one somewhere behind the log
    end (so each (group, partition) has a positive lag)."""
    rng = _rng(seed, _COMMITS)
    ends = log.log_end_offsets()
    rows = []
    for g in range(N_GROUPS):
        for p in range(N_PARTITIONS):
            if ends[p] == 0:
                continue
            pos = np.sort(rng.integers(0, ends[p], COMMITS_PER_GROUP_PARTITION))
            ts = BASE_TS_MS + np.sort(
                rng.integers(0, LOG_SPAN_MS, COMMITS_PER_GROUP_PARTITION)
            )
            for o, t in zip(pos, ts):
                rows.append((g, p, int(o), int(t)))
    arr = np.array(rows, dtype=np.int64).reshape(-1, 4)
    return {"group": arr[:, 0], "partition": arr[:, 1], "offset": arr[:, 2], "ts_ms": arr[:, 3]}


def seek_times(seed: int, n: int) -> np.ndarray:
    """Timestamps consumers seek to with offsets_for_times: a replay from
    the oldest quarter of the log, so the fetch after a seek finds as
    many records ahead of it as a plain poll does. Seeks spread over the
    whole span made the records a run fetched vary 16.8k-19.7k over 20
    polls with the seed, and records_per_s with it."""
    rng = _rng(seed, _SEEK)
    return BASE_TS_MS + rng.integers(0, LOG_SPAN_MS // 4, n)


# --------------------------------------------------------------------- #
# ground truth for the streams jobs
# --------------------------------------------------------------------- #


def streams_truth(log: AtRestLog, dim_keys: np.ndarray, commits: dict) -> dict[str, int]:
    ends = log.log_end_offsets()
    # read_committed: below the partition's LSO (first open txn offset)
    # and in a committed txn (lanes never overlap, see _add_txns)
    lso = ends.copy()
    open_rows = log.txn_status == 2
    np.minimum.at(lso, log.partition[open_rows], log.offset[open_rows])
    committed = (log.txn_status == 0) & (log.offset < lso[log.partition])
    # KTable: a key is live when its latest record is not a tombstone;
    # every key lives in one partition, so latest = highest offset
    order = np.lexsort((log.offset, log.key_id))
    last = order[np.r_[log.key_id[order][1:] != log.key_id[order][:-1], True]]
    live = int((~log.value_null[last]).sum())
    # tumbling 1 h windows keyed by partition
    win = (log.ts_ms // WINDOW_MS).astype(np.int64)
    n_windows = len(np.unique(win * N_PARTITIONS + log.partition))
    # session windows per key, inactivity gap SESSION_GAP_MS
    o = np.lexsort((log.ts_ms, log.key_id))
    k, t = log.key_id[o], log.ts_ms[o]
    new = np.r_[True, (k[1:] != k[:-1]) | (np.diff(t) > SESSION_GAP_MS)]
    in_dim = np.isin(log.key_id, dim_keys)
    # consumer lag: latest commit per (group, partition) by commit ts
    g, p = commits["group"], commits["partition"]
    co = np.lexsort((commits["offset"], commits["ts_ms"], p, g))
    lastc = co[np.r_[(g[co][1:] != g[co][:-1]) | (p[co][1:] != p[co][:-1]), True]]
    lag = int((ends[p[lastc]] - commits["offset"][lastc] - 1).sum())
    return {
        "committed_rows": int(committed.sum()),
        "live_keys": live,
        "distinct_keys": int(len(last)),
        "window_groups": n_windows,
        "window_count_total": log.n,
        "sessions": int(new.sum()),
        "join_rows": int(in_dim.sum()),
        "lag_rows": int(len(lastc)),
        "lag_total": lag,
    }


# --------------------------------------------------------------------- #
# produce requests: lz4 RecordBatch v2 blobs, encoded from the spec
# --------------------------------------------------------------------- #

_CRC32C_TABLE = np.zeros(256, dtype=np.uint32)
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE[_i] = _c
del _i, _c
_CRC_CHUNK = 256  # bytes per lane of the chunked CRC below


def _crc_zero_bytes_tables(n: int) -> list[list[int]]:
    """Byte tables of the linear map "feed n zero bytes" on the CRC
    register: the register r becomes the XOR of tables[k][byte k of r]."""
    t = _CRC32C_TABLE
    basis = []
    for bit in range(32):
        r = np.uint32(1 << bit)
        for _ in range(n):
            r = t[r & 0xFF] ^ (r >> np.uint32(8))
        basis.append(int(r))
    tables = []
    for k in range(4):
        row = [0] * 256
        for b in range(1, 256):
            low = b & -b
            row[b] = row[b ^ low] ^ basis[8 * k + low.bit_length() - 1]
        tables.append(row)
    return tables


_CRC_SHIFT = _crc_zero_bytes_tables(_CRC_CHUNK)


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli), the RecordBatch v2 checksum.

    The register update is linear over GF(2), so the data is cut into
    _CRC_CHUNK-byte chunks whose CRCs (from a zero register) are computed
    side by side with NumPy, then folded in order: crc(A + B) =
    shift(crc(A), len(B)) ^ crc(B). The initial 0xFFFFFFFF register is
    the same as XORing the first four data bytes with 0xFF, and leading
    zero bytes leave a zero register unchanged, so the data is padded in
    front to whole chunks."""
    if len(data) < 4:
        crc = 0xFFFFFFFF
        for b in data:
            crc = int(_CRC32C_TABLE[(crc ^ b) & 0xFF]) ^ (crc >> 8)
        return crc ^ 0xFFFFFFFF
    buf = np.frombuffer(data, dtype=np.uint8).copy()
    buf[:4] ^= 0xFF
    pad = -len(buf) % _CRC_CHUNK
    lanes = np.concatenate([np.zeros(pad, dtype=np.uint8), buf]).reshape(-1, _CRC_CHUNK)
    reg = np.zeros(len(lanes), dtype=np.uint32)
    t, eight = _CRC32C_TABLE, np.uint32(8)
    for j in range(_CRC_CHUNK):
        reg = t[(reg ^ lanes[:, j]) & 0xFF] ^ (reg >> eight)
    t0, t1, t2, t3 = _CRC_SHIFT
    crc = 0
    for c in reg.tolist():
        crc = t0[crc & 0xFF] ^ t1[(crc >> 8) & 0xFF] ^ t2[(crc >> 16) & 0xFF] ^ t3[crc >> 24] ^ c
    return crc ^ 0xFFFFFFFF


def _varint(n: int, out: bytearray) -> None:
    z = (n << 1) ^ (n >> 63)  # zigzag
    while z >= 0x80:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def encode_batch(
    ts_ms: np.ndarray, keys: list[bytes], values: list[bytes], compression: str = "lz4"
) -> bytes:
    """One RecordBatch v2 (magic 2) with base offset 0, as a producer
    sends it: per-record varint fields, records section compressed, CRC-32C
    over attributes..end."""
    import pyarrow as pa

    base_ts = int(ts_ms.min())
    recs = bytearray()
    body = bytearray()
    for i, (k, v) in enumerate(zip(keys, values)):
        body.clear()
        body.append(0)  # record attributes
        _varint(int(ts_ms[i]) - base_ts, body)
        _varint(i, body)
        _varint(len(k), body)
        body += k
        _varint(len(v), body)
        body += v
        _varint(0, body)  # no headers
        _varint(len(body), recs)
        recs += body
    codec_id = {"lz4": 3, None: 0}[compression]
    payload = pa.compress(bytes(recs), codec="lz4", asbytes=True) if codec_id else bytes(recs)
    n = len(keys)
    covered = (
        struct.pack(
            ">hiqqqhii", codec_id, n - 1, base_ts, int(ts_ms.max()), -1, -1, -1, n
        )
        + payload
    )
    return (
        struct.pack(">qiibI", 0, 4 + 1 + 4 + len(covered), 0, 2, crc32c(covered))
        + covered
    )


@dataclass
class ProduceRequest:
    """One produce request: a batch per partition, plus what the engine
    must store for it (record count per partition, key+value bytes)."""

    index: int
    txn_id: str
    blobs: list[tuple[int, int, int, bytes]]  # (partition, base_offset, count, blob)
    per_partition: np.ndarray
    user_bytes: int
    wire_bytes: int

    @property
    def n_records(self) -> int:
        return int(self.per_partition.sum())


class ProduceGenerator:
    """Request i is a pure function of (seed, i). A retry re-sends the
    previous request's blobs and txn_id unchanged."""

    def __init__(self, seed: int, records_per_request: int, retry_every: int = 20):
        self.seed = seed
        self.n = records_per_request
        self.retry_every = retry_every
        self.vocab = make_vocab(seed)
        self.cdf = zipf_cdf()
        self.perm = key_permutation(seed)

    def request(self, i: int) -> ProduceRequest:
        rng = _rng(self.seed, _REQ, i)
        key_id = draw_keys(rng, self.cdf, self.perm, self.n)
        part = key_partition(key_id)
        ts = BASE_TS_MS + i * 10_000 + np.sort(rng.integers(0, 10_000, self.n))
        vdata, voff = make_values(self.vocab, rng, self.n)
        vbytes = vdata.tobytes()
        keys = [key_name(int(k)) for k in key_id]
        values = [vbytes[voff[j] : voff[j + 1]] for j in range(self.n)]
        blobs = []
        for p in range(N_PARTITIONS):
            idx = np.nonzero(part == p)[0]
            if len(idx) == 0:
                continue
            blob = encode_batch(ts[idx], [keys[j] for j in idx], [values[j] for j in idx])
            blobs.append((p, 0, len(idx), blob))
        return ProduceRequest(
            index=i,
            txn_id=f"produce-{self.seed}-{i}",
            blobs=blobs,
            per_partition=np.bincount(part, minlength=N_PARTITIONS).astype(np.int64),
            user_bytes=10 * self.n + int(voff[-1]),
            wire_bytes=sum(len(b[3]) for b in blobs),
        )

    def is_retry(self, i: int) -> bool:
        """Request slot i re-sends slot i-1: slots 1, 1 + ``retry_every``,
        ... A fixed schedule keeps the mix of requests the same in every
        run (a retry is a no-op, about twice as fast as an append), so
        with ten or so requests per run the median does not move with how
        many retries a seed happened to draw."""
        return i % self.retry_every == 1


def digest(*arrays) -> str:
    """Hash of generated inputs, for the same-seed determinism check."""
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, (bytes, bytearray)):
            h.update(a)
        else:
            h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()
