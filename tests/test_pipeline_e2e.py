"""End-to-end pipeline: generator → serialize → parse → enrich → route →
write → aggregates, with resume/no-duplicate semantics (SURVEY.md §3.1
restatement + §5 golden test)."""

from pyspark.sql import functions as F

from binlog_processer_spark.functions.parse import serialize_expr
from binlog_processer_spark.plans.pipeline import run_pipeline
from binlog_processer_spark.sources.generator import generate_corpus, routing_dim


def _raw(spark, n_docs=200):
    return generate_corpus(spark, n_docs, partitions=4).select(
        serialize_expr().alias("raw")
    )


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    assert res.metrics["rows_failed"] == 0
    assert res.metrics["rows_routed"] > 0
    # the metrics contract benchmark harnesses read: per-phase walls and
    # the always-on parse-latency percentiles
    assert set(res.metrics["phase_sec"]) == {"route_write", "rollup", "publish"}
    for p in ("p50", "p95", "p99"):
        assert res.metrics[f"parse_batch_us_{p}"] is not None

    routed = res.tables["routed"].read(spark)
    counts = res.tables["sink_counts"].read(spark)
    # count parity: sum of per-sink counts == routed rows (A1 assertion)
    total = counts.select(
        F.sum(F.col("insert_cnt") + F.col("update_cnt") + F.col("delete_cnt"))
    ).collect()[0][0]
    assert total == routed.count() == res.metrics["rows_routed"]
    # dual trees double every surviving record
    trees = dict(
        routed.groupBy("tree").count().rdd.map(lambda r: (r.tree, r["count"])).collect()
    )
    assert trees["create"] == trees["update"]
    # token-array invariant: routed image tokens equal source tokens
    src = generate_corpus(spark, 200, partitions=4).select(
        "event_seq", F.col("tokens").alias("src_tokens")
    )
    joined = routed.filter(F.col("tree") == "update").join(src, "event_seq")
    bad = joined.filter(
        F.coalesce(F.col("img_tokens"), F.expr("cast(array() as array<int>)"))
        != F.col("src_tokens")
    )
    assert bad.count() == 0

    lineage = res.tables["lineage"].read(spark)
    assert lineage.count() > 0
    wm = res.tables["watermarks"].read(spark)
    assert wm.filter(F.col("max_commit_ts").isNull()).count() == 0


def test_pipeline_resume_no_duplicates(spark, tmp_path):
    out = str(tmp_path / "out2")
    full = run_pipeline(spark, _raw(spark), routing_dim(spark), out + "_ref")

    # first run sees only files src0-f0..: simulate partial input
    raw = generate_corpus(spark, 200, partitions=4)
    part1 = raw.filter(F.col("file_id").endswith("-f0")).select(
        serialize_expr().alias("raw")
    )
    r1 = run_pipeline(spark, part1, routing_dim(spark), out)
    assert r1.metrics["files_processed"] > 0

    # second run gets the FULL input; manifest anti-join must skip -f0 files
    r2 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    routed = r2.tables["routed"].read(spark)
    # no duplicates: every (tree, event_seq) appears exactly once
    dups = routed.groupBy("tree", "event_seq").count().filter(F.col("count") > 1)
    assert dups.count() == 0
    # complete: rerun total equals the single-shot reference run
    assert routed.count() == full.tables["routed"].read(spark).count()


def test_pipeline_fully_resumed_rerun_metrics_survive_empty_increment(
    spark, tmp_path
):
    """A rerun whose every input file is already in the manifest writes an
    EMPTY increment; AQE's empty-relation propagation then eliminates the
    CollectMetrics (observe) node from the write plan, and the pipeline must
    fall back to its explicit-aggregate path for the parse metrics instead
    of surfacing a schema-less observation row (pipeline.py observe()
    fallback)."""
    out = str(tmp_path / "out3")
    r1 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    assert r1.metrics["files_processed"] > 0

    r2 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    assert r2.metrics["files_processed"] == 0
    assert r2.metrics["rows_routed"] == 0
    assert r2.metrics["rows_failed"] == 0
    # latency percentiles still come back (via the fallback aggregate)
    assert r2.metrics["parse_batch_us_p50"] is not None
    # and the committed table still reads complete
    assert (
        r2.tables["routed"].read(spark).count()
        == r1.tables["routed"].read(spark).count()
    )


def test_pipeline_publishes_process_report(spark, tmp_path):
    """Every run writes <wh>/process_report (the reference's
    t_binlog_process_report + Prometheus-counter analogue): counter rows
    match the metrics dict, gauges are present, and a resumed rerun
    APPENDS its own (empty-increment) report generation."""
    out = str(tmp_path / "out")
    res = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    rep = {
        r["metric"]: r["value"]
        for r in res.tables["process_report"].read(spark).collect()
    }
    assert rep["rows_routed"] == res.metrics["rows_routed"]
    assert rep["rows_failed"] == res.metrics["rows_failed"]
    assert rep["files_processed"] == res.metrics["files_processed"]
    assert rep["trees"] == 2
    assert rep["sinks"] > 0
    n_r, n_f = res.metrics["rows_routed"], res.metrics["rows_failed"]
    assert rep["quarantine_ppm"] == (n_f * 1_000_000) // (n_r // 2 + n_f)
    assert rep["wall_ms"] > 0 and rep["rows_per_sec"] > 0
    for phase in ("route_write", "rollup", "publish"):
        assert f"phase_ms_{phase}" in rep
    assert rep["routed_files"] > 0

    res2 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    rep2 = res2.tables["process_report"].read(spark)
    # two report generations now; the latest reports the empty increment
    assert rep2.count() == 2 * len(rep)
    latest_ts = rep2.agg(F.max("run_ts")).collect()[0][0]
    latest = {
        r["metric"]: r["value"]
        for r in rep2.filter(F.col("run_ts") == latest_ts).collect()
    }
    assert latest["rows_routed"] == 0 and latest["files_processed"] == 0
