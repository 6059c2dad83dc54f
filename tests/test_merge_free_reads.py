"""Reads that skip the last-write-wins merge for cold-only buckets, and the
index-store metadata the driver already holds.

A cold-only bucket is read raw, so every cold writer must leave each
(ts, key) at most once: ``restore_chunks`` (the one cold writer fed from
outside the engine) refuses an import that would break that. The
index-store half covers recorded table schemas, the drift decision on an
empty chain and the sqrt-stride fit of an empty corpus.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from helixdb_spark import HelixOptions, HelixSpark
from helixdb_spark.index_store import AnnIndexStore
from helixdb_spark.layout import COLD_SCHEMA


def _open(spark, path):
    return HelixSpark.open(
        spark,
        str(path),
        HelixOptions(rick_range=10, outdate_range=1 << 30, auto_maintain=False),
    )


def _scan(db, lo=0, hi=99):
    return sorted(
        (r["ts"], bytes(r["key"]), bytes(r["value"]))
        for r in db.scan((lo, hi)).collect()
    )


def test_restore_chunks_refuses_duplicate_rows(spark, tmp_path):
    """Importing an export twice over (or a chunk repeating a timestamp)
    raises before the flip: nothing is published, no staged dir is left,
    and the replica keeps serving its previous rows."""
    src = _open(spark, tmp_path / "src")
    src.put([(t, b"k%d" % (t % 4), b"v%d" % t) for t in range(20)])
    src.compact(0, 19)
    exp = src.scan_raw()
    dst = _open(spark, tmp_path / "dst")
    dst.put([(5, b"k1", b"old")])
    dst.compact(0, 9)
    before = (dict(dst._state["cold_manifest"]), _scan(dst))

    with pytest.raises(ValueError, match="more than once"):
        dst.restore_chunks(exp.unionByName(exp))
    repeated = spark.createDataFrame(
        [(b"k9", "array", [(3, b"a"), (3, b"b")], None, 0)], COLD_SCHEMA
    )
    with pytest.raises(ValueError, match="more than once"):
        dst.restore_chunks(repeated)

    assert (dict(dst._state["cold_manifest"]), _scan(dst)) == before
    gens = sorted(os.listdir(dst.layout.cold_path))
    assert gens == [f"gen={g}" for g in sorted(set(before[0].values()))]

    dst.restore_chunks(exp)  # the plain export still imports
    assert _scan(dst) == _scan(src)
    assert len(_scan(dst)) == 20
    src.close()
    dst.close()


def test_cold_only_and_hot_overlap_reads_agree(spark, tmp_path):
    """A range of cold-only buckets reads raw; a range with a hot bucket
    merges it. Both answer like the model, including a late overwrite of a
    compacted entry (hot wins) and a snapshot read whose parked hot
    partitions make their buckets hot again."""
    db = HelixSpark.open(
        spark,
        str(tmp_path / "db"),
        HelixOptions(
            rick_range=10,
            outdate_range=1 << 30,
            auto_maintain=False,
            keep_generations=2,
        ),
    )
    rows = [(t, b"k%d" % (t % 3), b"v%d" % t) for t in range(30)]
    db.put(rows)
    db.compact(0, 19)  # buckets 0 and 1 cold, bucket 2 hot
    model = {(t, k): v for t, k, v in rows}
    assert _scan(db, 0, 19) == sorted((t, k, v) for (t, k), v in model.items() if t < 20)
    db.put([(4, b"k1", b"late")])  # bucket 0 is hot again
    model[(4, b"k1")] = b"late"
    full = sorted((t, k, v) for (t, k), v in model.items())
    assert _scan(db) == full
    assert db.get_many([(4, b"k1"), (15, b"k0")]) == {
        (4, b"k1"): b"late",
        (15, b"k0"): b"v15",
    }
    assert db.get_many_asof([(19, b"k1")]) == {(19, b"k1"): (19, b"v19")}
    db.compact(0, 9)
    assert _scan(db) == full
    # before the last compaction: bucket 0's late row was still hot
    snap = sorted(
        (r["ts"], bytes(r["key"]), bytes(r["value"]))
        for r in db.scan_asof_commit(1, (0, 29)).collect()
    )
    assert snap == full
    db.close()


def _vecs(spark, n, offset=0):
    return spark.range(n).select(
        (F.col("id") + offset).alias("vec_id"),
        F.array(
            (F.col("id") % 7 + 1).cast("double"),
            (F.col("id") % 5 + 1).cast("double"),
        ).alias("embedding"),
    )


def test_drift_decision_on_empty_chain_is_no_drift(spark, tmp_path):
    """An empty fit plus an empty append has no per-list counts on either
    side: the drift statistic has no row, which the policy reads as no
    drift instead of failing."""
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    db = _open(spark, tmp_path / "db")
    empty = _vecs(spark, 0)
    store.write_ivf(empty, stride=4)
    desc = store.append_ivf(empty, assume_new=True)
    assert len(store._segments(desc)) == 2
    assert store.ivf_share_drift("ivf").count() == 0
    assert not db._drift_tripped(store, "ivf", desc, 0.1, "invalidate", None)
    assert not store._state["indexes"]["ivf"].get("stale")
    db.close()


def test_sqrt_stride_fit_of_empty_corpus_is_empty_index(spark, tmp_path):
    """stride="sqrt" on an empty corpus returns an empty index, as a fixed
    stride does; for n >= 1 the in-plan stride is the oracle's
    greatest(1, ceil(n / ceil(sqrt(n))))."""
    from helixdb_spark.operators.similarity import sqrt_stride_centroids

    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    for stride in ("sqrt", 4):
        desc = store.write_ivf(_vecs(spark, 0), name=f"e{stride}", stride=stride)
        assert desc["n_rows"] == 0
        assert store._read_table(f"e{stride}", desc, "centroids").count() == 0
    for n in (1, 2, 3, 10, 17, 100):
        stride = max(1, math.ceil(n / math.ceil(math.sqrt(n))))
        got = {r["centroid_id"] for r in sqrt_stride_centroids(_vecs(spark, n)).collect()}
        assert got == {i for i in range(n) if i % stride == 0}


def test_recorded_schema_reads_like_inference(spark, tmp_path):
    """A table read with the schema recorded at staging returns the columns
    and rows schema inference returns; a descriptor without recorded
    schemas still reads, and an append to it keeps inference."""
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    desc = store.write_ivf(_vecs(spark, 50), stride=7)
    assert set(desc["schemas"]) == {"lists", "centroids"}
    legacy = {k: v for k, v in desc.items() if k != "schemas"}

    def table(d, t):
        df = store._read_table("ivf", d, t)
        return df.schema.simpleString(), sorted(map(tuple, df.collect()))

    for t in ("lists", "centroids"):
        assert table(desc, t) == table(legacy, t)
    store._state["indexes"]["ivf"] = legacy
    new = store.append_ivf(_vecs(spark, 5, offset=100))
    assert new["schemas"] == {"lists": None, "centroids": None}
    assert store.read_ivf("ivf")[1].count() == 55
