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
# from the staged directory; a distinct() over the re-read generation would
# add three (schema inference plus the two stages of the aggregate).
EXPECTED_JOBS = {
    "put": 2,
    "compact": 3,
    "optimize": 3,
    "bulk_load": 2,
    "restore_chunks": 5,
    "get_many": 3,
    "scan": 4,
    "get_many_asof": 6,
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

    probes = [(t, b"k%02d" % (t % 16)) for t in (3, 15, 25, 105)]
    got["get_many"] = _jobs(spark, lambda: db.get_many(probes))
    got["scan"] = _jobs(spark, lambda: db.scan((0, 119)).collect())
    got["get_many_asof"] = _jobs(spark, lambda: db.get_many_asof(probes))
    assert got == EXPECTED_JOBS
    db.close()
    dst.close()
