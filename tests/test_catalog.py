"""Warehouse catalog: atomic multi-table versions — consistent cross-table
reads, whole-warehouse rollback, expiry floors, and the pipeline's
end-of-run catalog commit."""

import pytest
from pyspark.sql import functions as F

from binlog_processer_spark.storage.catalog import Catalog
from binlog_processer_spark.storage.table import SnapshotTable


def _wh(spark, tmp_path):
    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    fact = cat.table("fact")
    fact.write(spark.range(0, 100).select("id"))
    counts = cat.table("counts")
    counts.write(fact.read(spark).agg(F.count("*").alias("n")))
    cat.commit({"fact": 0, "counts": 0}, note="v0")
    return wh, cat


def test_catalog_pins_survive_later_table_commits(spark, tmp_path):
    wh, cat = _wh(spark, tmp_path)
    # advance the fact table WITHOUT a catalog commit (mid-publish state)
    cat.table("fact").write(spark.range(0, 150).select("id"), mode="append")
    # direct read sees new data; catalog read still serves the pinned set
    assert cat.table("fact").read(spark).count() == 250
    assert cat.read(spark, "fact").count() == 100
    assert cat.read(spark, "counts").collect()[0]["n"] == 100

    # the next catalog commit publishes both moves together
    cat.table("counts").write(
        cat.table("fact").read(spark).agg(F.count("*").alias("n"))
    )
    v = cat.commit({"fact": 1, "counts": 1}, note="v1")
    assert v == 1
    assert cat.read(spark, "fact").count() == 250
    assert cat.read(spark, "counts").collect()[0]["n"] == 250


def test_rollback_repoints_every_table_together(spark, tmp_path):
    wh, cat = _wh(spark, tmp_path)
    cat.table("fact").write(spark.range(0, 150).select("id"), mode="append")
    cat.table("counts").write(
        cat.table("fact").read(spark).agg(F.count("*").alias("n"))
    )
    cat.commit({"fact": 1, "counts": 1})
    cat.rollback(0)
    assert cat.current_version() == 0
    assert cat.read(spark, "fact").count() == 100
    assert cat.read(spark, "counts").collect()[0]["n"] == 100
    assert [d["version"] for d in cat.history()] == [0]


def test_commit_rejects_nonexistent_snapshot_and_unpinned_read(
    spark, tmp_path
):
    wh, cat = _wh(spark, tmp_path)
    with pytest.raises(FileNotFoundError):
        cat.commit({"fact": 7})
    with pytest.raises(KeyError):
        cat.read(spark, "nope")


def test_pinned_snapshots_floor_expiry(spark, tmp_path):
    wh, cat = _wh(spark, tmp_path)
    fact = cat.table("fact")
    fact.write(spark.range(0, 10).select("id"), mode="append")  # snap 1
    fact.write(spark.range(10, 20).select("id"), mode="append")  # snap 2
    cat.commit({"fact": 2, "counts": 0})
    pins = cat.pinned_snapshots("fact")
    assert pins == {0, 2}
    res = fact.expire_snapshots(keep_last=1, keep_snapshots=pins)
    # snapshot 0 (pinned by catalog v0) survives; only 1 expires
    assert res["snapshots_removed"] == [1]
    assert fact.read(spark, 0).count() == 100


def test_pipeline_commits_a_consistent_catalog_version(tmp_path):
    import json
    import subprocess
    import sys
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = str(tmp_path / "wh")
    out = subprocess.run(
        [sys.executable, "jobs/run_pipeline.py", "--generate", "2000",
         "--output", wh],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    cat = Catalog(wh)
    pins = cat.pins()
    assert {"routed", "sink_counts", "watermarks", "histograms",
            "lineage"} <= set(pins)
    for name, snap in pins.items():
        assert SnapshotTable(os.path.join(wh, name)).current_snapshot() == snap


def test_compact_advances_catalog_and_expiry_respects_pins(
    tmp_path, spark, split_raw_inputs
):
    """The hole this guards: two resumed pipeline runs commit catalog v0
    and v1 (v1 pins routed@1); compaction rewrites routed to snap 2;
    expiry with keep_last=1 must not vacuum what the (advanced) catalog
    reads, and the catalog must point at the compacted snapshot."""
    import subprocess
    import sys
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _run(args):
        import json as _json

        out = subprocess.run(
            [sys.executable, *args], capture_output=True, text=True,
            timeout=600, cwd=repo,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return _json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )

    wh = str(tmp_path / "wh")
    part, full = split_raw_inputs
    # the test NEEDS a fragmented routed table for compaction to have
    # work: two resumed runs append a file per run to each sink partition
    # (one run's rebalanced write is right-sized — the compactor no-ops)
    _run(["jobs/run_pipeline.py", "--input", part, "--output", wh])
    _run(["jobs/run_pipeline.py", "--input", full, "--output", wh])
    cat = Catalog(wh)
    v1_routed = cat.pins()["routed"]

    m = _run(["jobs/run_compact.py", "--warehouse", wh, "--expire-keep", "1"])
    assert m["committed"] is True and m["groups"] > 0
    assert m["catalog_version"] == 2
    assert m["snapshots_expired"] >= 1

    # catalog advanced to the compacted snapshot and reads cleanly
    assert cat.current_version() == 2
    assert cat.pins()["routed"] == m["snapshot"] != v1_routed
    n = cat.read(spark, "routed").count()
    assert n > 0
    # the stale versions' files were trimmed with the same retention depth
    assert [d["version"] for d in cat.history()] == [2]


def test_catalog_versions_never_reuse_after_rollback(spark, tmp_path):
    """A commit after rollback must mint PAST the rolled-past version
    files, not clobber them — their pins still guard expiry."""
    wh, cat = _wh(spark, tmp_path)  # v0
    cat.table("fact").write(spark.range(0, 10).select("id"), mode="append")
    cat.commit({"fact": 1, "counts": 0})  # v1
    cat.rollback(0)
    v = cat.commit({"fact": 0, "counts": 0})  # must NOT overwrite v-1.json
    assert v == 2
    assert cat.pins(1) == {"counts": 0, "fact": 1}  # old version intact
    assert cat.pinned_snapshots("fact") >= {0}
    # history walks current lineage only; the rolled-past v1 is an orphan
    assert [d["version"] for d in cat.history()] == [2, 0]


def test_catalog_commit_cas_and_advance_pin_retry(spark, tmp_path):
    from binlog_processer_spark.storage.catalog import advance_pin
    from binlog_processer_spark.storage.table import CommitConflict

    wh, cat = _wh(spark, tmp_path)  # v0 pins fact@0, counts@0
    cat.table("fact").write(spark.range(5).select("id"), mode="append")
    with pytest.raises(CommitConflict):
        cat.commit({"fact": 1}, expected_version=7)  # stale read
    v = cat.commit({"fact": 1, "counts": 0}, expected_version=0)
    assert v == 1
    # advance_pin re-reads pins under CAS and only moves its one table
    cat.table("fact").write(spark.range(5).select("id"), mode="append")
    v2 = advance_pin(wh, "fact", 2, note="test")
    assert v2 == 2
    assert cat.pins() == {"counts": 0, "fact": 2}
    assert advance_pin(wh, "fact", 2) is None  # already pinned: no-op


def test_concurrent_catalog_commits_never_clobber(spark, tmp_path):
    """8 threads race read-modify-write catalog commits through
    advance_pin-style CAS retries: every thread's pin must be present in
    the final version (no silently reverted commits), and every version
    file must be distinct (no clobbered ids)."""
    import threading

    from binlog_processer_spark.storage.table import CommitConflict

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    t = cat.table("fact")
    t.write(spark.range(5).select("id"))
    cat.commit({"fact": 0})
    errors: list[str] = []

    def worker(i):
        name = f"tbl{i}"
        cat.table(name).write(spark.range(i + 1).select("id"))
        for _ in range(40):
            v = cat.current_version()
            try:
                cat.commit(
                    {**cat.pins(v), name: 0},
                    note=name,
                    expected_version=v,
                )
                return
            except CommitConflict:
                continue
        errors.append(f"{name} exhausted retries")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    pins = cat.pins()
    assert set(pins) == {"fact"} | {f"tbl{i}" for i in range(8)}
    # 9 committed versions, all ids distinct, chain intact
    vs = [d["version"] for d in cat.history()]
    assert len(vs) == 9 and len(set(vs)) == 9 and vs[-1] == 0
