"""Spark job counts per engine call on a tiny store.

Job launches are Spark's per-call latency floor, and unlike wall time they
do not move with host load — so each engine entry point's count is pinned
here. A refactor that adds an action to the write or read path fails this
test instead of surfacing only as a slower benchmark.
"""

from __future__ import annotations

import uuid

from helixdb_spark import HelixOptions, HelixSpark

# jobs fired by each call below. restore_chunks lists its imported buckets
# from the staged directory, and its staging write observes the duplicate
# and blob-codec checks; re-reading the generation for either would add
# jobs (schema inference plus a scan per check).
# Reads come in two shapes: over a range that overlaps a hot bucket, the
# last-write-wins aggregate adds a shuffle; over a fully compacted range
# the cold rows are read raw, without it.
EXPECTED_JOBS = {
    "put": 2,
    "compact": 3,
    "optimize": 3,
    "bulk_load": 2,
    "restore_chunks": 3,
    "get_many": 3,
    "scan": 4,
    "get_many_asof": 6,
    "cold_get_many": 2,
    "cold_scan": 3,
    "cold_get_many_asof": 5,
}

# index-store calls. Staged tables record their schema in the descriptor,
# so reading a table back starts no schema-inference job, and a drift
# decision on recorded per-list counts starts none at all.
EXPECTED_INDEX_JOBS = {
    "write_ivf": 7,
    "append_ivf": 4,
    "drift_decision": 0,
    "compact_index": 3,
    "ivf_topk": 7,
}


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` fires, read back from the status
    tracker through a job group unique to this call."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(lo, hi):
    return [(t, b"k%02d" % (t % 16), b"v%d" % t) for t in range(lo, hi)]


def test_engine_call_job_counts(spark, tmp_path):
    opts = HelixOptions(rick_range=10, outdate_range=1 << 30, auto_maintain=False)
    db = HelixSpark.open(spark, str(tmp_path / "db"), opts)
    got = {"put": _jobs(spark, lambda: db.put(_rows(0, 40)))}
    got["compact"] = _jobs(spark, lambda: db.compact(0, 19))
    # a late overwrite re-compacts bucket 0 into a multi-file dir for
    # optimize to pack; AQE would coalesce the toy shuffle into one file
    db.put(_rows(0, 5))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        db.compact(0, 9)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    got["optimize"] = _jobs(spark, lambda: db.optimize(1 << 30))
    got["bulk_load"] = _jobs(spark, lambda: db.bulk_load(_rows(100, 120)))
    dst = HelixSpark.open(spark, str(tmp_path / "dst"), opts)
    got["restore_chunks"] = _jobs(
        spark, lambda: dst.restore_chunks(db.scan_raw((0, 19)))
    )

    # buckets 0, 1, 10 and 11 are cold only; 2 and 3 are hot
    probes = [(t, b"k%02d" % (t % 16)) for t in (3, 15, 25, 105)]
    got["get_many"] = _jobs(spark, lambda: db.get_many(probes))
    got["scan"] = _jobs(spark, lambda: db.scan((0, 119)).collect())
    got["get_many_asof"] = _jobs(spark, lambda: db.get_many_asof(probes))
    cold = probes[:2]
    got["cold_get_many"] = _jobs(spark, lambda: db.get_many(cold))
    got["cold_scan"] = _jobs(spark, lambda: db.scan((0, 19)).collect())
    got["cold_get_many_asof"] = _jobs(spark, lambda: db.get_many_asof(cold))
    assert got == EXPECTED_JOBS
    db.close()
    dst.close()


def _vectors(spark, ids, id_col="vec_id"):
    return spark.createDataFrame(
        [(i, [float(i * 7 % 5) + 0.5, float(i % 3)]) for i in ids],
        f"{id_col} long, embedding array<double>",
    )


def test_index_store_call_job_counts(spark, tmp_path):
    from helixdb_spark.index_store import AnnIndexStore

    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    db = HelixSpark.open(spark, str(tmp_path / "db"))
    got = {
        "write_ivf": _jobs(
            spark,
            lambda: store.write_ivf(_vectors(spark, range(40)), stride="sqrt"),
        )
    }
    desc = {}

    def append():
        delta = _vectors(spark, range(40, 60))
        desc.update(store.append_ivf(delta, assume_new=True))

    got["append_ivf"] = _jobs(spark, append)
    got["drift_decision"] = _jobs(
        spark,
        lambda: db._drift_tripped(store, "ivf", desc, 1.0, "invalidate", None),
    )
    got["compact_index"] = _jobs(spark, lambda: store.compact_index("ivf"))
    queries = _vectors(spark, [3, 8], id_col="query_id")
    got["ivf_topk"] = _jobs(spark, lambda: store.ivf_topk(queries).collect())
    assert got == EXPECTED_INDEX_JOBS
    db.close()
