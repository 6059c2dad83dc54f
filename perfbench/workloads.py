"""The two closed-loop workloads, their seeded inputs and the model each
result is checked against.

Every input (keys, random-walk and 1 KiB values, late rows, probes, drifting
vectors, queries) comes from one ``numpy`` generator seeded by ``--seed``;
the engine only ever receives the generated rows. One client drives the
engine and waits for each call, as db_bench's per-thread loop does.
"""

from __future__ import annotations

import bisect
import json
import os
import struct
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from helixdb_spark import comparators
from helixdb_spark.codecs import ARRAY_CODEC, CodecRegistry
from helixdb_spark.engine import HelixOptions, HelixSpark
from helixdb_spark.index_store import AnnIndexStore

NEVER = 1 << 40  # an outdate_range no run reaches: retention off


@dataclass(frozen=True)
class KVSize:
    keys: int  # LE-u64 keys 0..keys-1; even ones 8-byte walks, odd ones 1 KiB
    rick: int  # rick_range: timestamps per bucket
    outdate: int  # outdate_range (retention horizon)
    prefill_ts: int  # timestamps written by the set-up put
    put_ts: int  # timestamps per loop put
    probes: int = 64
    asof_probes: int = 32
    scan_keys: int = 16


@dataclass(frozen=True)
class IndexSize:
    dim: int
    components: int
    fit: int  # vectors put and fitted in set-up
    batch: int  # vectors per loop put (one rick bucket)
    queries: int
    k: int
    # From a numpy replica of the sqrt-stride fit and the share statistic,
    # seeds 1-79: the mixture-B batch drifts at least 0.40 (smoke: 0.44)
    # from the mixture-A fit; after the refit, a batch drawn like the corpus
    # drifts at most 0.20 (smoke: 0.29).
    drift_threshold: float


# kv_mix: 512 + 64 late entries (~300 KB) per put; every third put closes
# a bucket and, from the first loop round on, retires the one before, so
# after a round the live window is one bucket (1,536 entries, ~0.8 MB).
# index_refresh: 16-d vectors, 512 fitted in set-up, 256 per put.
SIZES = {
    "full": {
        "kv_mix": KVSize(64, 24, 48, 24, 8),
        "index_refresh": IndexSize(16, 8, 512, 256, 16, 10, 0.3),
    },
    "smoke": {
        "kv_mix": KVSize(16, 12, 24, 12, 4, probes=16, asof_probes=8, scan_keys=4),
        "index_refresh": IndexSize(8, 4, 128, 64, 4, 5, 0.36),
    },
}


def le_key(i: int) -> bytes:
    return struct.pack("<Q", i)


def codec_registry() -> CodecRegistry:
    """Even keys carry 8-byte series values and go through the Gorilla-style
    ``ts_delta_xor`` codec; odd keys (1 KiB opaque) stay native arrays."""
    reg = CodecRegistry()
    reg.register_dispatch(lambda key: "ts_delta_xor" if key[0] % 2 == 0 else ARRAY_CODEC)
    return reg


# ------------------------------------------------------------------ model
class Model:
    """Last write per (ts, key) and the retention cutoff, as the engine's
    contract defines them: a later put of the same (ts, key) wins, and
    timestamps at or below the cutoff read as absent. The cutoff follows the
    tumbling-window trigger of the reference's SimpleTimestampReviewer
    (reference src/level.rs:550-591), re-derived here, not imported."""

    def __init__(self, rick: int, outdate: int) -> None:
        self.rick, self.outdate = rick, outdate
        self.data: dict[tuple[int, bytes], bytes] = {}
        self.ts_by_key: dict[bytes, list[int]] = defaultdict(list)
        self.last_compacted = 0
        self.last_outdated = 0
        self.cutoff: int | None = None
        self.max_ts = -1
        self.bytes_put = 0

    def put(self, rows) -> None:
        self.bytes_put += sum(8 + len(k) + len(v) for _, k, v in rows)
        for ts, key, value in rows:
            if (ts, key) not in self.data:
                bisect.insort(self.ts_by_key[key], ts)
            self.data[(ts, key)] = value
        t = max(ts for ts, _, _ in rows)
        self.max_ts = max(self.max_ts, t)
        if t - self.last_compacted + 1 >= self.rick:
            self.last_compacted = t + 1
        if t - self.last_outdated + 1 >= self.outdate:
            c = self.last_outdated + self.rick - 1
            self.cutoff = c if self.cutoff is None else max(self.cutoff, c)
            self.last_outdated += self.rick

    def live(self, ts: int) -> bool:
        return self.cutoff is None or ts > self.cutoff

    def get(self, ts: int, key: bytes):
        return self.data.get((ts, key)) if self.live(ts) else None

    def asof(self, ts: int, key: bytes):
        series = self.ts_by_key.get(key, [])
        i = bisect.bisect_right(series, ts) - 1
        if i < 0 or not self.live(series[i]):
            return None
        return series[i], self.data[(series[i], key)]

    def scan(self, lo: int, hi: int, klo: int, khi: int) -> list:
        """Rows of a le_u64-ordered scan: key-major, then time."""
        out = []
        for k in range(klo, khi + 1):
            key = le_key(k)
            series = self.ts_by_key.get(key, [])
            for ts in series[bisect.bisect_left(series, lo):bisect.bisect_right(series, hi)]:
                if self.live(ts):
                    out.append((ts, key, self.data[(ts, key)]))
        return out

    def live_bytes(self) -> int:
        return sum(8 + len(k) + len(v) for (ts, k), v in self.data.items() if self.live(ts))

    def live_entries_below(self, ts_hi: int) -> int:
        return sum(1 for (ts, _k) in self.data if self.live(ts) and ts < ts_hi)


class KVGen:
    """db_bench-shaped rows: every timestamp carries every key; even keys a
    slowly varying int64 (a random walk), odd keys 1 KiB of random bytes."""

    def __init__(self, rng: np.random.Generator, n_keys: int) -> None:
        self.rng = rng
        self.keys = [le_key(i) for i in range(n_keys)]
        self.walk = rng.integers(-1 << 20, 1 << 20, size=n_keys)

    def value(self, i: int) -> bytes:
        if i % 2 == 0:
            self.walk[i] += int(self.rng.integers(-3, 4))
            return struct.pack("<q", int(self.walk[i]))
        return self.rng.bytes(1024)

    def rows(self, ts_lo: int, ts_hi: int) -> list:
        return [(t, k, self.value(i)) for t in range(ts_lo, ts_hi)
                for i, k in enumerate(self.keys)]

    def late_rows(self, lo: int, hi: int) -> list:
        """One overwrite per key of an existing entry with ts in [lo, hi).
        Every key, so every writer task of the put gets late rows and the
        number of files written does not depend on the seed."""
        if hi <= lo:
            return []
        ts = self.rng.integers(lo, hi, size=len(self.keys))
        return [(int(t), k, self.value(i)) for i, (t, k) in enumerate(zip(ts, self.keys))]


# ------------------------------------------------------------ op harness
class Harness:
    """Times and checks every op; a raised exception or a failed check is a
    failed op. A recorded op also notes the ids of the Spark jobs it fired
    (``jobs`` returns how many jobs the session has run so far)."""

    def __init__(self, jobs) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.job_ranges: dict[str, list[tuple[int, int]]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.counts: dict[str, float] = defaultdict(float)
        self.jobs = jobs

    def op(self, kind: str, fn, check=None, record: bool = True):
        self.attempted += 1
        j0 = self.jobs() if record else 0
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            self.failed += 1
            print(f"op {kind} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        if record:
            self.samples[kind].append(dt * 1e3)
            self.job_ranges[kind].append((j0, self.jobs()))
        if check is not None:
            try:
                problem = check(out)
            except Exception:  # noqa: BLE001
                problem = traceback.format_exc()
            if problem:
                self.failed += 1
                print(f"op {kind} check failed: {problem}", file=sys.stderr)
        return out


def _as_rows(rows) -> list:
    return [(int(r["ts"]), bytes(r["key"]), bytes(r["value"])) for r in rows]


def _diff(expected, got) -> str | None:
    if expected == got:
        return None
    return f"expected {len(expected)} rows/items, got {len(got)}"


class KVLoop:
    """Shared get / asof / scan / put ops against a model-checked engine."""

    def __init__(self, h: Harness, db: HelixSpark, model: Model, gen: KVGen,
                 size: KVSize, rng: np.random.Generator) -> None:
        self.h, self.db, self.model, self.gen, self.size, self.rng = h, db, model, gen, size, rng
        self.entries_put = 0
        self.put_s = 0.0

    def put(self, rows) -> None:
        t0 = time.perf_counter()
        self.h.op("put", lambda: self.db.put(rows))
        self.put_s += time.perf_counter() - t0
        self.model.put(rows)
        self.entries_put += len(rows)

    def probes(self, ts_lo: int, ts_hi: int, n: int) -> list:
        """``n`` seeded (ts, key) probes over [ts_lo, ts_hi]. The first two
        sit on its ends, so the range a batch reads does not depend on the
        seed; keys alternate even and odd (8-byte and 1 KiB values); every
        ninth asks for a key that was never written."""
        ts = self.rng.integers(ts_lo, ts_hi + 1, size=n)
        ts[:2] = ts_lo, ts_hi
        keys = 2 * self.rng.integers(0, self.size.keys // 2, size=n) + np.arange(n) % 2
        keys[8::9] += self.size.keys
        return [(int(t), le_key(int(k))) for t, k in zip(ts, keys)]

    def get_many(self, probes: list, record: bool = True) -> None:
        expected = {p: v for p in probes if (v := self.model.get(*p)) is not None}

        def check(got):
            if record:
                self.h.counts["get_probes"] += len(probes)
                self.h.counts["get_hits"] += len(got)
            return _diff(expected, {p: bytes(v) for p, v in got.items()})

        self.h.op("get_many", lambda: self.db.get_many(probes), check, record)

    def asof(self, probes: list, record: bool = True) -> None:
        expected = {p: v for p in probes if (v := self.model.asof(*p)) is not None}

        self.h.op("get_many_asof", lambda: self.db.get_many_asof(probes),
                  lambda got: _diff(expected, {p: (t, bytes(v)) for p, (t, v) in got.items()}),
                  record)

    def scan(self, lo: int, hi: int, klo: int, khi: int, kind: str = "scan",
             record: bool = True) -> None:
        expected = self.model.scan(lo, hi, klo, khi)

        def run():
            return self.db.scan((lo, hi), (le_key(klo), le_key(khi)),
                                comparators.le_u64).collect()

        def check(rows):
            if record:
                self.h.counts["scan_rows"] += len(rows)
            return _diff(expected, _as_rows(rows))

        self.h.op(kind, run, check, record)

    def recent_scan(self, record: bool = True) -> None:
        """Scan the newest ``rick`` live timestamps of ``scan_keys`` seeded
        consecutive keys: the window's place, and so the files it reads,
        follow from the op sequence alone."""
        m, s = self.model, self.size
        lo = max(_live_lo(m), m.max_ts - s.rick + 1)
        k0 = int(self.rng.integers(0, s.keys - s.scan_keys + 1))
        self.scan(lo, m.max_ts, k0, k0 + s.scan_keys - 1, record=record)


def _kv_store(spark, path: str, size: KVSize) -> HelixSpark:
    return HelixSpark.open(
        spark, path,
        HelixOptions(rick_range=size.rick, outdate_range=size.outdate,
                     num_shard=4, auto_maintain=True),
        codecs=codec_registry(),
    )


def _live_lo(model: Model) -> int:
    return 0 if model.cutoff is None else model.cutoff + 1


# ----------------------------------------------------------------- kv_mix
class KVMix:
    """Time-ordered puts with reviewer-driven compaction and retention, and a
    read after every put: gets of mostly compacted (cold) entries, gets of
    the hot tail, ordered key+time range scans and as-of gets."""

    max_rounds = None  # rounds are alike: repeat them until --seconds pass

    def __init__(self, spark, root: str, seed: int, size: KVSize, h: Harness) -> None:
        self.spark, self.size, self.h = spark, size, h
        self.rng = np.random.default_rng(seed)
        self.path = os.path.join(root, "db")
        self.db = _kv_store(spark, self.path, size)
        self.model = Model(size.rick, size.outdate)
        self.kv = KVLoop(h, self.db, self.model, KVGen(self.rng, size.keys), size, self.rng)
        self.next_ts = 0

    def dirs(self) -> list[str]:
        return [self.path]

    def build(self) -> None:
        rows = self.kv.gen.rows(0, self.size.prefill_ts)
        self.db.put(rows)
        self.model.put(rows)
        self.next_ts = self.size.prefill_ts

    def warm(self) -> None:
        """One unrecorded read of each kind on the freshly built store."""
        s, kv, m = self.size, self.kv, self.model
        kv.get_many(kv.probes(0, m.max_ts, s.probes), record=False)
        kv.recent_scan(record=False)
        kv.asof(kv.probes(0, m.max_ts, s.asof_probes), record=False)

    def _put(self) -> None:
        s, gen, m = self.size, self.kv.gen, self.model
        rows = gen.rows(self.next_ts, self.next_ts + s.put_ts)
        rows += gen.late_rows(_live_lo(m), m.last_compacted)
        self.kv.put(rows)
        self.next_ts += s.put_ts

    def round(self) -> None:
        """One compaction cycle: rick / put_ts puts, the last of which closes
        a bucket (compact, and outdate once the horizon is reached). The
        reads after them take turns."""
        s, kv, m = self.size, self.kv, self.model
        reads = [  # the first runs while the hot tail is non-empty
            lambda: kv.get_many(kv.probes(m.last_compacted, m.max_ts, s.probes)),
            kv.recent_scan,
            lambda: kv.get_many(kv.probes(_live_lo(m), m.max_ts, s.probes)),
            lambda: kv.asof(kv.probes(_live_lo(m), m.max_ts + s.put_ts, s.asof_probes)),
            kv.recent_scan,
        ]
        n_puts = s.rick // s.put_ts
        for i in range(n_puts):
            self._put()
            reads[i]()
        for read in reads[n_puts:]:
            read()

    def finish(self) -> None:
        """Full-window scan, then reopen the store (durability) and re-read."""
        m, s, kv = self.model, self.size, self.kv
        lo, hi = _live_lo(m), m.max_ts
        kv.scan(lo, hi, 0, s.keys - 1, kind="full_scan")
        self.h.op("close", self.db.close, record=False)
        kv.db = self.db = _kv_store(self.spark, self.path, s)
        kv.get_many(kv.probes(max(0, lo - s.rick), hi, s.probes))
        kv.asof(kv.probes(lo, hi + s.put_ts, s.asof_probes))
        self.db.close()


# ---------------------------------------------------------- index_refresh
class VecGen:
    """Gaussian-mixture vectors: a share ``alpha`` of a sample comes from
    mixture B (the second half of the components), the rest from mixture A."""

    def __init__(self, rng: np.random.Generator, size: IndexSize) -> None:
        self.rng, self.size = rng, size
        self.centers = rng.normal(size=(size.components, size.dim)) * 3.0

    def sample(self, n: int, alpha: float) -> np.ndarray:
        half = self.size.components // 2
        in_b = self.rng.random(n) < alpha
        comp = self.rng.integers(0, half, size=n) + np.where(in_b, half, 0)
        return self.centers[comp] + self.rng.normal(size=(n, self.size.dim))


def _vec_value(v: np.ndarray) -> bytes:
    return json.dumps([float(x) for x in v]).encode()


def corpus_fn(db) -> "F.DataFrame":
    """The index corpus decoded 1:1 from scanned entries (ts = vec_id): the
    ``delta_scan`` registration contract."""
    return db.scan((0, NEVER), comparator=comparators.NO_ORDER).select(
        F.col("ts").alias("vec_id"),
        F.from_json(F.decode("value", "utf-8"), "array<double>").alias("embedding"),
    )


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Exact cosine top-k with the probe's rounding and id tie-break."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = np.round(1e-9 + qn @ cn.T, 6)
    ids = np.arange(len(corpus))
    return [list(np.lexsort((ids, -row))[:k]) for row in sims]


class IndexRefresh:
    """Puts of drifting vectors into an engine with a registered IVF index,
    each put followed by an ``ivf_topk`` probe batch.

    Every put fills one bucket, so its compaction refreshes the index: the
    delta is appended and the assignment-share drift measured. The fit is
    mixture A. Round 1's batch is mixture B: drift exceeds the threshold
    and the index is refit over the whole corpus. Round 2's batch is drawn
    like that corpus: drift stays under the threshold, and the chain is
    folded back to one segment (``max_segments=1``). The run is exactly
    these two rounds, so its puts are the same whatever the seed or the
    machine's speed, and it ends on an appended and folded chain."""

    max_rounds = 2

    def __init__(self, spark, root: str, seed: int, size: IndexSize, h: Harness) -> None:
        self.spark, self.size, self.h = spark, size, h
        self.rng = np.random.default_rng(seed)
        self.gen = VecGen(self.rng, size)
        self.root = root
        self.db = HelixSpark.open(
            spark, os.path.join(root, "db"),
            HelixOptions(rick_range=size.batch, outdate_range=NEVER, num_shard=4,
                         auto_maintain=True),
        )
        self.store = AnnIndexStore(spark, os.path.join(root, "idx"))
        self.vectors = np.zeros((0, size.dim))
        self.model = Model(size.batch, NEVER)
        self.kv = KVLoop(h, self.db, self.model, None, None, self.rng)
        self.batches = 0
        self.alpha = 0.0  # mixture-B share of the current round's batch
        self.recalls: list[float] = []

    def dirs(self) -> list[str]:
        return [os.path.join(self.root, "db"), os.path.join(self.root, "idx")]

    def _rows(self, vecs: np.ndarray) -> list:
        n0 = len(self.vectors)
        self.vectors = np.vstack([self.vectors, vecs])
        return [(n0 + i, le_key(n0 + i), _vec_value(v)) for i, v in enumerate(vecs)]

    def build(self) -> None:
        s = self.size
        rows = self._rows(self.gen.sample(s.fit, self.alpha))
        self.db.put(rows)  # spans whole buckets: compacts in the same call
        self.model.put(rows)
        self.store.write_ivf(corpus_fn(self.db), name="ivf", stride="sqrt")
        self.db.register_index(
            self.store, "ivf", corpus_fn, max_segments=1,
            drift_threshold=s.drift_threshold, drift_action="refit", delta_scan=True,
        )

    def warm(self) -> None:
        """One unrecorded probe and engine read back on the built store."""
        q = self._queries()
        self.h.op("ivf_topk", lambda: self._probe(q), record=False)
        self._read_back(record=False)

    def _read_back(self, record: bool = True) -> None:
        """Seeded gets and as-of gets with one probe per stretch of the
        corpus, and a scan inside the newest bucket."""
        kv, n, b = self.kv, len(self.vectors), self.size.batch
        w = b // 4
        step = n // (2 * w)
        ids = [int(self.rng.integers(0, step)) + j * step for j in range(2 * w)]
        # half the probes pair a vec_id with another id's key: misses
        kv.get_many([(i, le_key(i if j % 2 else (i + 1) % n)) for j, i in enumerate(ids)],
                    record)
        kv.asof([(n - 1, le_key(i)) for i in ids[::2]], record)
        t0 = (n // b - 1) * b + int(self.rng.integers(0, b - w + 1))
        kv.scan(t0, t0 + w - 1, t0, t0 + w - 1, record=record)

    def _queries(self) -> np.ndarray:
        return self.gen.sample(self.size.queries, self.alpha)

    def _query_df(self, q: np.ndarray):
        return self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(q)],
            "query_id long, embedding array<double>",
        )

    def _probe(self, q: np.ndarray, name: str = "ivf"):
        return self.store.ivf_topk(self._query_df(q), name=name, k=self.size.k).collect()

    def round(self) -> None:
        s = self.size
        self.batches += 1
        # round 1: all mixture B; round 2: B's share of the corpus so far
        self.alpha = 1.0 if self.batches == 1 else s.batch / len(self.vectors)
        self.kv.put(self._rows(self.gen.sample(s.batch, self.alpha)))
        q = self._queries()
        truth = exact_topk(self.vectors, q, s.k)
        rows = self.h.op("ivf_topk", lambda: self._probe(q),
                         lambda rows: self._check_topk(q, truth, rows))
        self.last_probe = (q, rows)

    def _check_topk(self, q, truth, rows) -> str | None:
        got: dict[int, list] = defaultdict(list)
        for r in rows:
            got[int(r["query_id"])].append((int(r["rk"]), int(r["neighbor_id"]), float(r["cosine"])))
        hits = 0
        n = len(self.vectors)
        for qi, res in got.items():
            res.sort()
            if len(res) > self.size.k or [r[0] for r in res] != list(range(1, len(res) + 1)):
                return f"query {qi}: ranks {[r[0] for r in res]}"
            for _rk, nid, cos in res:
                if not 0 <= nid < n:
                    return f"query {qi}: unknown neighbour {nid}"
                v = self.vectors[nid]
                exact = float(np.round(1e-9 + v @ q[qi] / np.linalg.norm(v) / np.linalg.norm(q[qi]), 6))
                if abs(exact - cos) > 2e-6:
                    return f"query {qi}: cosine {cos} != {exact} for {nid}"
            if any(a[2] < b[2] for a, b in zip(res, res[1:])):
                return f"query {qi}: not ordered by cosine"
            hits += len({r[1] for r in res} & set(truth[qi]))
        self.recalls.append(hits / (self.size.k * len(q)))
        return None

    def finish(self) -> None:
        """Engine read-back, then the appended/folded chain must answer like
        a fresh ``write_ivf`` over the same corpus with its frozen centroids."""
        self._read_back()
        _, _, cents = self.store.read_ivf("ivf")
        q, chain = self.last_probe  # nothing was put since that probe

        def fresh():
            self.store.write_ivf(corpus_fn(self.db), name="fresh", centroids=cents)
            return self._probe(q, "fresh")

        self.h.op("frozen_rebuild", fresh,
                  lambda rows: _diff([tuple(r) for r in chain or []], [tuple(r) for r in rows]),
                  record=False)
        self.db.close()
