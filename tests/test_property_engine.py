"""Property-based tests (hypothesis) — an addition over the reference, which
has only example-based inline tests (SURVEY.md §5).

Spark-backed properties keep example counts small (a Spark job per example);
the pure-Python codec properties run at full default example counts.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from helixdb_spark.codecs import CodecRegistry
from helixdb_spark.engine import HelixOptions, HelixSpark

# ------------------------------------------------------------------ codecs
pairs_st = st.lists(
    st.tuples(
        st.integers(min_value=-(2**40), max_value=2**40),
        st.binary(min_size=0, max_size=64),
    ),
    min_size=0,
    max_size=50,
)


@pytest.mark.parametrize("name", ["noop", "delta_zlib"])
@given(pairs=pairs_st)
@settings(max_examples=200, deadline=None)
def test_codec_roundtrip_property(name, pairs):
    codec = CodecRegistry().get(name)
    blob = codec.compress(b"k", pairs)
    assert codec.decompress(b"k", blob) == pairs


# ------------------------------------------------------------------ engine
entries_st = st.dictionaries(
    keys=st.tuples(
        st.integers(min_value=0, max_value=499),
        st.binary(min_size=1, max_size=8),
    ),
    values=st.binary(min_size=0, max_size=16),
    min_size=1,
    max_size=40,
)


@given(entries=entries_st, compact_split=st.integers(min_value=0, max_value=499))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_put_compact_scan_roundtrip_property(spark, entries, compact_split):
    """For any (ts,key)-unique batch and any compaction split point:
    scan(full range) returns exactly the input set, before and after
    compaction (compaction transparency, reference src/level.rs:823-875)."""
    base = tempfile.mkdtemp(prefix="helix_prop_")
    import atexit, shutil

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    db = HelixSpark.open(
        spark,
        base,
        HelixOptions(rick_range=100, outdate_range=1 << 40, auto_maintain=False),
    )
    rows = [(ts, key, val) for (ts, key), val in entries.items()]
    db.put(rows)

    expected = {(ts, key, val) for ts, key, val in rows}

    def scanned_set():
        return {
            (r["ts"], bytes(r["key"]), bytes(r["value"]))
            for r in db.scan((0, 499)).collect()
        }

    assert scanned_set() == expected
    db.compact(0, compact_split)
    assert scanned_set() == expected
    # point gets agree with the set, including a guaranteed miss
    ts0, key0, val0 = rows[0]
    assert db.get(ts0, key0) == val0
    assert db.get(ts0, b"\x00missing\xff") is None
    db.close()


# ------------------------------------------- mutation-sequence property
_op_st = st.one_of(
    st.tuples(st.just("put"), entries_st),
    st.tuples(
        st.just("compact"),
        st.tuples(
            st.integers(min_value=0, max_value=499),
            st.integers(min_value=0, max_value=499),
        ),
    ),
    st.tuples(st.just("outdate"), st.integers(min_value=0, max_value=400)),
    st.tuples(st.just("rollback"), st.none()),
    st.tuples(st.just("optimize"), st.none()),
    st.tuples(
        st.just("restore"),
        st.tuples(
            st.integers(min_value=0, max_value=499),
            st.integers(min_value=0, max_value=499),
        ),
    ),
)


def _assert_cold_invariants(db) -> None:
    """Liveness: every on-disk cold ``gen=G/time_bucket=B`` below the next
    generation number is referenced by the manifest or by the retained
    commit history (higher G are staging leftovers). Uniqueness: each
    (ts, key) appears at most once across the live cold chunks."""
    state = db._state
    live = {(int(g), int(b)) for b, g in state["cold_manifest"].items()}
    for e in state.get("commit_history") or []:
        live |= {(int(g), int(b)) for b, g in e["manifest_before"].items()}
        live |= {(int(g), int(b)) for g, b in e["superseded"]}
    cold = db.layout.cold_path
    for name in os.listdir(cold) if os.path.isdir(cold) else []:
        gen = int(name.split("=", 1)[1])
        if gen >= state["cold_gen_seq"]:
            continue
        for sub in os.listdir(f"{cold}/{name}"):
            if sub.startswith("time_bucket="):
                bucket = int(sub.split("=", 1)[1])
                assert (gen, bucket) in live, f"unreferenced {name}/{sub}"
    ids = [
        (e["ts"], bytes(r["key"]))
        for r in db.scan_raw().collect()
        for e in r["chunk"]
    ]
    assert len(ids) == len(set(ids))


def _assert_point_reads(db, model, cutoff) -> None:
    """``get_many`` and ``get_many_asof`` agree with the model over the
    first cold-only bucket (read raw, no merge) and over the whole range
    when it holds a hot bucket (merged and raw buckets in one plan)."""
    rick = db.layout.rick_range
    hot = db._fs.list_buckets(db.layout.hot_path)
    cold_only = sorted({int(b) for b in db._state["cold_manifest"]} - set(hot))
    ranges = [(b * rick, b * rick + rick - 1) for b in cold_only[:1]]
    if hot:
        ranges.append((0, 499))

    def live(ts):
        return cutoff is None or ts > cutoff

    keys = sorted({k for _, k in model} | {b"\x00miss"})
    for lo, hi in ranges:
        probes = [p for p in model if lo <= p[0] <= hi]
        probes += [(lo, b"\x00miss"), (hi, b"\x00miss")]
        assert db.get_many(probes) == {
            p: model[p] for p in probes if p in model and live(p[0])
        }
        asof = [(ts, k) for ts in (lo, hi) for k in keys]
        want = {}
        for ts, k in asof:
            seen = [t for t, kk in model if kk == k and t <= ts and live(t)]
            if seen:
                want[(ts, k)] = (max(seen), model[(max(seen), k)])
        assert db.get_many_asof(asof) == want


@given(
    ops=st.lists(_op_st, min_size=2, max_size=6),
    keep=st.sampled_from([0, 2]),
)
# a late overwrite of a compacted entry: its bucket is hot and cold at once
@example(
    ops=[
        ("put", {(5, b"a"): b"1", (150, b"b"): b"2"}),
        ("compact", (0, 199)),
        ("put", {(5, b"a"): b"3"}),
    ],
    keep=0,
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mutation_sequence_matches_model(spark, ops, keep):
    """Any interleaving of put / compact / outdate / rollback / optimize /
    self-restore agrees with a trivial last-write-wins + retention model.
    Exercises the generation-manifest commit across MULTIPLE commits (gen
    chains, bucket re-merges) and the cutoff/manifest interplay — the
    state space the example tests can't enumerate. It ends with a full
    scan, point and as-of reads over a cold-only and a hot-overlapping
    range, and the cold layout's liveness and (ts, key) uniqueness
    invariants."""
    base = tempfile.mkdtemp(prefix="helix_prop_seq_")
    import atexit, shutil

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    db = HelixSpark.open(
        spark,
        base,
        HelixOptions(
            rick_range=100,
            outdate_range=1 << 40,
            auto_maintain=False,
            keep_generations=keep,
        ),
    )
    model: dict[tuple[int, bytes], bytes] = {}
    cutoff = None
    # AQE would coalesce every toy shuffle into one task, leaving one file
    # per bucket and nothing for optimize to pack
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for kind, arg in ops:
            if kind == "put":
                rows = [(ts, key, val) for (ts, key), val in arg.items()]
                db.put(rows)
                for ts, key, val in rows:
                    model[(ts, key)] = val  # overwrite: highest seq wins
            elif kind == "compact":
                lo, hi = min(arg), max(arg)
                db.compact(lo, hi)
            elif kind == "outdate":
                db.outdate(arg)
                cutoff = arg if cutoff is None else max(cutoff, arg)
            elif kind == "optimize":
                db.optimize(1 << 30)  # pure rewrite: logically a no-op
            elif kind == "restore":
                # re-importing the store's own chunks replaces each bucket
                # with identical content: logically a no-op
                db.restore_chunks(db.scan_raw((min(arg), max(arg))))
            else:
                # compaction is logically transparent, so its rollback is a
                # logical no-op too — under ANY interleaving with puts and
                # retention (the outdate cutoff lives in state, not in the
                # rolled-back manifest, and the read path re-applies it to
                # whatever directories the restore resurrects). The model
                # therefore doesn't change; only the physical layout does.
                db.rollback_compaction()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    expected = {
        (ts, key, val)
        for (ts, key), val in model.items()
        if cutoff is None or ts > cutoff
    }
    got = {
        (r["ts"], bytes(r["key"]), bytes(r["value"]))
        for r in db.scan((0, 499)).collect()
    }
    assert got == expected
    _assert_point_reads(db, model, cutoff)
    _assert_cold_invariants(db)
    db.close()
