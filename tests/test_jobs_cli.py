"""spark-submit surface smoke: the CLI entry points end-to-end in
subprocesses — the reference's BinlogMain / TiDBCheckByFile /
HiveRepairByDataBase trio (SURVEY.md §3) plus the streaming apply,
maintenance (scrub, compact), corpus (dedup, qa), and release
surfaces, all as --py-files-shippable jobs."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args):
    out = subprocess.run(
        [sys.executable, *args], capture_output=True, text=True,
        timeout=600, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def test_pipeline_verify_repair_cli(tmp_path):
    wh = str(tmp_path / "wh")
    m = _run(["jobs/run_pipeline.py", "--generate", "2000", "--output", wh])
    assert m["rows_routed"] > 0 and m["rows_failed"] == 0

    clean = _run(["jobs/run_verify.py", "--warehouse", wh])
    assert clean["findings_total"] == 0

    dirty = _run(["jobs/run_verify.py", "--warehouse", wh, "--mutate"])
    assert dirty["findings_total"] > 0

    rep = _run(["jobs/run_repair.py", "--warehouse", wh])
    assert rep["findings_before"] == dirty["findings_total"]
    assert rep["findings_after"] == 0


def test_package_zip():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import package

    out = package.build(os.path.join(REPO, "dist", "engine-test.zip"))
    import zipfile

    names = zipfile.ZipFile(out).namelist()
    assert "binlog_processer_spark/session.py" in names
    assert "binlog_processer_spark/plans/pipeline.py" in names
    os.remove(out)


def test_repair_cli_file_scoped_commit(spark, tmp_path):
    """run_repair on a snapshot-stored replica commits a file-scoped rewrite:
    only replica files containing flagged keys are rewritten; untouched
    files survive by manifest reference (same inode/mtime), and the
    committed snapshot re-verifies clean."""
    from binlog_processer_spark.plans.pipeline import run_pipeline
    from binlog_processer_spark.functions.parse import serialize_expr
    from binlog_processer_spark.sources.generator import (
        generate_corpus,
        routing_dim,
    )
    from binlog_processer_spark.storage.table import SnapshotTable

    sys.path.insert(0, os.path.join(REPO, "jobs"))
    from run_verify import derived_replica, routed_events

    wh = str(tmp_path / "wh")
    raw = generate_corpus(spark, 300, partitions=4).select(
        serialize_expr().alias("raw")
    )
    run_pipeline(spark, raw, routing_dim(spark), wh)

    # snapshot-stored replica with injected faults, spread over many files
    # so most files contain no flagged key
    tbl = SnapshotTable(str(tmp_path / "replica"))
    tbl.write(
        derived_replica(routed_events(spark, wh), mutate=True).repartition(16)
    )
    before = {
        p: (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
        for p in tbl.data_files()
    }

    rep = _run(
        ["jobs/run_repair.py", "--warehouse", wh, "--replica", tbl.root]
    )
    assert rep["findings_before"] > 0
    assert rep["findings_after"] == 0
    assert rep["snapshot"] == 1

    after = set(tbl.data_files())
    kept = after & set(before)
    assert kept, "expected untouched replica files to stay referenced"
    assert after - set(before), "expected a rewritten file set"
    for p in kept:
        st = os.stat(p)
        assert (st.st_ino, st.st_mtime_ns) == before[p], p


def test_compact_cli_dry_run_then_commit(spark, tmp_path):
    """run_compact plans from metadata alone (--dry-run needs no Spark
    session), then commits a bin-packing rewrite that converges."""
    from pyspark.sql import functions as F

    from binlog_processer_spark.storage.table import SnapshotTable

    wh = str(tmp_path / "wh")
    tbl = SnapshotTable(os.path.join(wh, "routed"))
    for i in range(3):
        df = spark.range(i * 100, i * 100 + 100).select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("k")
        ).coalesce(1)
        tbl.write(df, partition_by=["k"],
                  mode="overwrite" if i == 0 else "append")

    plan = _run(["jobs/run_compact.py", "--warehouse", wh, "--dry-run"])
    assert plan["committed"] is False
    assert plan["groups"] == 4 and plan["files_merged"] == 12

    res = _run(["jobs/run_compact.py", "--warehouse", wh])
    assert res["committed"] is True and res["files_merged"] == 12
    assert res["snapshot"] == plan["snapshot"] + 1
    assert len(tbl.file_sizes()) == 4  # one file per partition now

    again = _run(["jobs/run_compact.py", "--warehouse", wh, "--dry-run"])
    assert again["groups"] == 0


def test_compact_cli_zorder(spark, tmp_path):
    """--zorder re-lays the table on the Morton key via the CLI: rows
    identical, stats recorded for both columns, both dims prune."""
    from pyspark.sql import functions as F

    from binlog_processer_spark.storage.table import SnapshotTable

    wh = str(tmp_path / "wh")
    tbl = SnapshotTable(os.path.join(wh, "routed"))
    rev = sum(
        F.shiftleft(F.shiftright(F.col("id"), b).bitwiseAND(F.lit(1)), 11 - b)
        for b in range(12)
    )
    df = spark.range(4096).select(
        F.col("id").alias("x"), rev.cast("long").alias("y")
    )
    tbl.write(df.repartition(8))

    res = _run(["jobs/run_compact.py", "--warehouse", wh,
                "--zorder", "x,y", "--zorder-files", "16"])
    assert res["committed"] is True and res["zorder"] == ["x", "y"]
    n = len(tbl.data_files())
    for col in ("x", "y"):
        assert len(tbl.prune_files({col: (0, 255)})) < n / 2
    assert tbl.read(spark).count() == 4096


def test_pipeline_cli_inline_compact(tmp_path, split_raw_inputs):
    """--compact bin-packs the routed table right after the run commits and
    the warehouse still verifies clean against the replica derivation."""
    wh = str(tmp_path / "wh")
    part, full = split_raw_inputs
    # two resumed runs: the second appends a file to every sink partition
    # the first wrote, giving the inline compactor work (one run's
    # rebalanced write is already right-sized and the compactor no-ops)
    _run(["jobs/run_pipeline.py", "--input", part, "--output", wh])
    m = _run(["jobs/run_pipeline.py", "--input", full, "--output", wh,
              "--compact"])
    assert m["rows_routed"] > 0
    assert m["compact_groups"] > 0
    assert m["compact_files_merged"] > m["compact_groups"]
    clean = _run(["jobs/run_verify.py", "--warehouse", wh])
    assert clean["findings_total"] == 0


def test_compact_cli_with_expiry_vacuum(spark, tmp_path):
    """--expire-keep after compaction physically frees the superseded
    generation while the table keeps answering identically."""
    from pyspark.sql import functions as F

    from binlog_processer_spark.storage.table import SnapshotTable

    wh = str(tmp_path / "wh")
    tbl = SnapshotTable(os.path.join(wh, "routed"))
    for i in range(3):
        df = spark.range(i * 100, i * 100 + 100).select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("k")
        ).coalesce(1)
        tbl.write(df, partition_by=["k"],
                  mode="overwrite" if i == 0 else "append")

    res = _run(["jobs/run_compact.py", "--warehouse", wh,
                "--expire-keep", "1"])
    assert res["committed"] and res["snapshots_expired"] == 3
    assert res["files_vacuumed"] == 12 and res["bytes_freed"] > 0
    assert len(tbl.file_sizes()) == 4


def test_dedup_cli_full_then_incremental(tmp_path, spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    docs.filter(F.col("doc_id") % 5 != 0).write.parquet(old_p)
    docs.filter(F.col("doc_id") % 5 == 0).write.parquet(new_p)
    wh = str(tmp_path / "dwh")

    full = _run(["jobs/run_dedup.py", "--docs", old_p, "--output", wh])
    assert not full["incremental"]

    inc = _run(
        ["jobs/run_dedup.py", "--docs", new_p, "--output", wh, "--incremental"]
    )
    # after the incremental run the accumulated state equals one full run
    # over ALL docs: 30 pairs, 54 clustered docs, 472 kept (the
    # dedup_keep_list oracle numbers at sf0.01)
    assert inc["incremental"]
    assert inc["pairs_total"] == 30
    assert inc["clustered_docs"] == 54
    assert inc["kept_total"] == 472


def test_qa_cli_gates_and_verdict(tmp_path, spark):
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (i, "the of and a to in is for on with clean words " * 3, "en",
             "s0", 100)
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(docs)
    wh = str(tmp_path / "qa_wh")
    m = _run(["jobs/run_qa.py", "--docs", docs, "--output", wh,
              "--inject-noise"])
    assert m["docs_in"] == 40
    # doc_id%6 -> mojibake (7 of 40); doc_id%4 minus %6 overlap -> PII
    assert m["encoding_bad"] == 7
    assert m["pii_docs"] == 6  # %4 (10 docs) minus the 4 %12-overlap
    # docs {0,12,24,36} that took the mojibake arm instead
    assert m["qa_pass"] <= m["funnel_kept"] <= m["docs_in"]

    from binlog_processer_spark.storage.table import SnapshotTable

    verdict = SnapshotTable(wh + "/doc_qa").read(spark)
    bad = {r.doc_id for r in verdict.filter("NOT encoding_ok").collect()}
    assert bad == {i for i in range(40) if i % 6 == 0}

    # the declarative contract publishes next to the gates and passes on
    # this (unique-id, non-null) corpus
    assert m["contract_failed"] == 0
    contract = SnapshotTable(wh + "/contract").read(spark)
    got = {(r.rule, r.col_name) for r in contract.collect()}
    assert ("unique", "doc_id") in got and ("not_null", "text") in got


def test_release_cli_end_to_end_consistency(tmp_path, spark):
    docs = str(tmp_path / "docs.parquet")
    # three sources, enough stopwords to satisfy the funnel, 20-40 words
    spark.createDataFrame(
        [
            (i, "the a of and to in is for on with "
             + " ".join(f"w{i}x{j}" for j in range(10 + i % 20)),
             "en", f"s{i % 3}", 200)
            for i in range(120)
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(docs)
    wh = str(tmp_path / "rel_wh")
    m = _run([
        "jobs/run_release.py", "--docs", docs, "--output", wh,
        "--targets", "s0=0.4,s1=0.3,s2=0.3", "--max-tokens", "64",
        "--pack-shards", "2", "--tag", "rel-1",
    ])
    assert m["docs_in"] == 120
    assert m["tag"] == "rel-1" and "packed" in m["tagged"]
    assert 0 < m["kept_after_dedup"] <= m["eligible"] <= 120
    assert 0 < m["mixed_docs"] <= m["kept_after_dedup"]
    assert m["sequences"] > 0 and m["tokens_total"] > 0

    from pyspark.sql import functions as F

    from binlog_processer_spark.storage.table import SnapshotTable

    packed = SnapshotTable(wh + "/packed").read(spark)
    bounds = SnapshotTable(wh + "/boundaries").read(spark)
    man = SnapshotTable(wh + "/shard_manifest").read(spark)
    # packed and boundaries describe the same sequence set, doc for doc
    assert packed.count() == bounds.count() == m["sequences"]
    assert (
        bounds.agg(F.sum("n_docs")).collect()[0][0]
        == packed.agg(F.sum("n_docs")).collect()[0][0]
        == m["mixed_docs"]
    )
    # every packed token array has exactly its recorded length
    assert (
        packed.filter(F.size("tokens") != F.col("n_tok")).count() == 0
    )
    # manifest covers every mixed doc exactly once
    assert man.agg(F.sum("n_docs")).collect()[0][0] == m["mixed_docs"]
    # the release tag resolves on every tagged table and pins its snapshot
    pt = SnapshotTable(wh + "/packed")
    assert pt.resolve("rel-1") == pt.current_snapshot()
    assert pt.read(spark, "rel-1").count() == m["sequences"]


def test_scrub_cli_detect_quarantine_replay(tmp_path):
    """End-to-end scrub surface: corrupt one routed data file on disk,
    run_scrub quarantines + rewrites + unmarks its source files, and the
    next run_pipeline replays exactly those sources back to a warehouse
    that verifies clean."""
    wh = str(tmp_path / "wh")
    m = _run(["jobs/run_pipeline.py", "--generate", "2000", "--output", wh])
    assert m["rows_routed"] > 0

    # clean scan first
    scan = _run(["jobs/run_scrub.py", "--warehouse", wh, "--dry-run"])
    assert scan["files_corrupt"] == 0 and scan["files_scanned"] > 0

    # truncate one parquet footer
    import glob

    victim = sorted(
        glob.glob(os.path.join(wh, "routed", "**", "*.parquet"),
                  recursive=True)
    )[0]
    with open(victim, "r+b") as f:
        f.truncate(max(1, os.path.getsize(victim) // 2))

    scrub = _run(["jobs/run_scrub.py", "--warehouse", wh])
    assert scrub["files_corrupt"] == 1
    assert scrub["affected_file_ids"]
    assert "rewrite_snapshot" in scrub

    # replay the unmarked sources; warehouse must re-verify clean
    m2 = _run(["jobs/run_pipeline.py", "--generate", "2000", "--output", wh])
    assert m2["files_processed"] == len(scrub["affected_file_ids"])
    clean = _run(["jobs/run_verify.py", "--warehouse", wh])
    assert clean["findings_total"] == 0


def test_apply_cli_resume(tmp_path):
    wh = str(tmp_path / "apply_wh")
    m1 = _run(["jobs/run_apply.py", "--generate", "1500", "--output", wh])
    assert m1["keys_live"] > 0 and m1["tombstones"] >= 0
    assert m1["keys_total"] == m1["keys_live"] + m1["tombstones"]
    # rerun: checkpoint skips every drained file — no new snapshot,
    # identical state
    m2 = _run(["jobs/run_apply.py", "--generate", "1500", "--output", wh])
    assert m2 == m1
    # expire every tombstone (mark above max_seq): live keys untouched
    m3 = _run(["jobs/run_apply.py", "--generate", "1500", "--output", wh,
               "--expire-below", str(m1["max_seq"])])
    assert m3["tombstones"] == 0
    assert m3["keys_live"] == m1["keys_live"]
    assert m3["keys_total"] == m1["keys_live"]
    assert m3["snapshot"] == m1["snapshot"] + (1 if m1["tombstones"] else 0)


def test_verify_antientropy_cli(tmp_path):
    wh = str(tmp_path / "wh")
    _run(["jobs/run_pipeline.py", "--generate", "2000", "--output", wh])

    clean = _run(
        ["jobs/run_verify.py", "--warehouse", wh, "--antientropy", "256"]
    )
    # agreeing stores: the digest exchange alone proves consistency
    assert clean["findings_total"] == 0 and clean["suspect_buckets"] == 0

    dirty = _run(
        ["jobs/run_verify.py", "--warehouse", wh, "--mutate",
         "--antientropy", "256"]
    )
    full = _run(["jobs/run_verify.py", "--warehouse", wh, "--mutate"])
    # drill-down reproduces the full reconcile, bucket count is bounded
    assert dirty["findings_total"] == full["findings_total"] > 0
    assert 0 < dirty["suspect_buckets"] <= 256
    for k in ("missing_create", "stale_update", "ghost_delete"):
        assert dirty.get(k, 0) == full.get(k, 0)


def test_compare_cli_digest_gated_with_state(tmp_path, spark):
    from pyspark.sql import functions as F

    from binlog_processer_spark.storage.table import SnapshotTable

    left = SnapshotTable(str(tmp_path / "left"))
    right = SnapshotTable(str(tmp_path / "right"))
    rows = spark.range(0, 300).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    left.write(rows.repartition(4))
    right.write(rows.repartition(4))
    state = str(tmp_path / "dig")

    base = ["jobs/run_compare.py", "--left", left.root, "--right",
            right.root, "--keys", "k", "--n-buckets", "64",
            "--state-dir", state]
    m = _run(base)
    assert m["agree"] is True and m["suspect_buckets"] == 0
    assert m["values"] == ["v"]

    # drift the right table: one update, one delete (file-scoped rewrite)
    import pyspark.sql.functions as PF

    f = (
        right.read(spark).withColumn("f", PF.input_file_name())
        .filter("k = '42'").collect()[0]["f"]
    )
    sub = right.read_files(spark, [f])
    right.rewrite_files(
        [f],
        sub.withColumn(
            "v", PF.when(PF.col("k") == "42", PF.lit(-1)).otherwise(PF.col("v"))
        ).filter(PF.col("k") != "77"),
    )

    out = str(tmp_path / "diff")
    m2 = _run(base + ["--output", out])
    assert m2["agree"] is False and m2["suspect_buckets"] >= 1
    had_77 = any(r.k == "77" for r in sub.collect())
    assert m2["rows_left_only"] == (2 if had_77 else 1)  # old 42 (+ deleted 77)
    assert m2["rows_right_only"] == 1  # new 42
    diff = SnapshotTable(out).read(spark)
    got = {(r.k, r._side) for r in diff.collect()}
    assert ("42", "left_only") in got and ("42", "right_only") in got

    # digests-only monitoring mode, state reused (no recompute crash)
    m3 = _run(base + ["--no-drill"])
    assert m3["suspect_buckets"] == m2["suspect_buckets"]
    assert "rows_left_only" not in m3


def test_apply_cli_digest_state(tmp_path, spark):
    from pyspark.sql import functions as F

    from binlog_processer_spark.operators.antientropy import (
        bucket_digests,
        diff_buckets,
    )
    from binlog_processer_spark.storage.table import SnapshotTable

    wh = str(tmp_path / "apply_wh")
    m1 = _run(["jobs/run_apply.py", "--generate", "1500", "--output", wh,
               "--digest-state"])
    assert m1["digest_buckets"] > 0
    assert m1["digest_of_snapshot"] == m1["snapshot"]

    # the maintained digests equal a from-scratch recompute of the store
    state = SnapshotTable(os.path.join(wh, "final_state_stream"))
    dig = SnapshotTable(os.path.join(wh, "digests"))
    fresh = bucket_digests(
        state.read(spark),
        ["database_name", "table_name", "doc_id"],
        [F.expr("final_op"), F.expr("final_seq")],
    )
    assert diff_buckets(dig.read(spark), fresh).count() == 0

    # tombstone expiry churns files; the next maintenance folds the churn
    m2 = _run(["jobs/run_apply.py", "--generate", "1500", "--output", wh,
               "--expire-below", str(m1["max_seq"]), "--digest-state"])
    assert m2["tombstones"] == 0
    fresh2 = bucket_digests(
        state.read(spark),
        ["database_name", "table_name", "doc_id"],
        [F.expr("final_op"), F.expr("final_seq")],
    )
    assert diff_buckets(dig.read(spark), fresh2).count() == 0


def test_feed_cli_exactly_once_relay(tmp_path, spark):
    from pyspark.sql import functions as F

    from binlog_processer_spark.storage.table import SnapshotTable

    src = SnapshotTable(str(tmp_path / "src"))
    src.write(spark.range(0, 50).select("id", (F.col("id") * 2).alias("v")))
    tgt = str(tmp_path / "log")
    cursor = str(tmp_path / "consumer" / "cursor")
    base = ["jobs/run_feed.py", "--source", src.root, "--target", tgt,
            "--cursor", cursor, "--keys", "id", "--earliest"]

    m1 = _run(base)  # bootstrap: whole snapshot as inserts
    assert m1["rows"] == 50 and m1["to"] == 0

    m2 = _run(base)  # idle poll: nothing to relay
    assert m2["rows"] == 0

    src.write(spark.range(50, 60).select("id", (F.col("id") * 2).alias("v")),
              mode="append")
    m3 = _run(base)
    assert m3["rows"] == 10 and m3["from"] == 0 and m3["to"] == 1

    # crash between sink write and cursor commit: lose the cursor, let the
    # source advance, re-run — the relay must repair the cursor from the
    # sink watermark and ship ONLY the new span (no duplicated batch)
    os.remove(cursor)
    src.write(spark.range(60, 65).select("id", (F.col("id") * 2).alias("v")),
              mode="append")
    m4 = _run(base)
    assert m4["cursor_repaired"] is True
    assert m4["rows"] == 5 and m4["from"] == 1 and m4["to"] == 2

    log = SnapshotTable(tgt).read(spark)
    assert log.count() == 65  # 50 + 10 + 5, nothing twice
    assert log.select("id").distinct().count() == 65
    assert {r._change_type for r in log.collect()} == {"insert"}
    assert {r._feed_snapshot for r in log.collect()} == {0, 1, 2}


def test_feed_cli_mirror_replication(tmp_path, spark):
    from pyspark.sql import functions as F

    from binlog_processer_spark.operators.antientropy import row_diff
    from binlog_processer_spark.storage.table import SnapshotTable

    src = SnapshotTable(str(tmp_path / "src"))
    src.write(
        spark.range(0, 200).select(
            "id", (F.col("id") * 2).alias("v")
        ).repartition(8)
    )
    tgt = str(tmp_path / "mirror")
    cursor = str(tmp_path / "consumer" / "cursor")
    base = ["jobs/run_feed.py", "--source", src.root, "--target", tgt,
            "--cursor", cursor, "--keys", "id", "--earliest", "--mirror"]

    m1 = _run(base)  # bootstrap: full copy
    mirror = SnapshotTable(tgt)
    assert m1["rows"] == 200 and mirror.read(spark).count() == 200

    # source churn: update one key, delete one, insert a few
    f = (
        src.read(spark).withColumn("f", F.input_file_name())
        .filter("id = 7").collect()[0]["f"]
    )
    sub = src.read_files(spark, [f])
    src.rewrite_files(
        [f],
        sub.withColumn(
            "v", F.when(F.col("id") == 7, F.lit(-1)).otherwise(F.col("v"))
        ).filter(F.col("id") != 13),
    )
    src.write(spark.range(200, 210).select(
        "id", (F.col("id") * 2).alias("v")), mode="append")

    before = {
        p: os.stat(p).st_ino for p in mirror.data_files()
    }
    m2 = _run(base)
    assert m2["rows"] > 0
    # mirror == source exactly (multiset)
    assert row_diff(src.read(spark), mirror.read(spark),
                    ["id", "v"]).count() == 0
    # file-scoped: some mirror files were carried untouched by reference
    kept = set(mirror.data_files()) & set(before)
    assert kept and all(os.stat(p).st_ino == before[p] for p in kept)

    # crash path: lose the cursor, more churn, re-run — idempotent apply
    # means the superset replay still converges to exactly the source
    os.remove(cursor)
    src.write(spark.range(210, 215).select(
        "id", (F.col("id") * 2).alias("v")), mode="append")
    m3 = _run(base)
    assert row_diff(src.read(spark), mirror.read(spark),
                    ["id", "v"]).count() == 0
    assert mirror.read(spark).count() == src.read(spark).count()


def test_erase_cli_merge_on_read(tmp_path, spark):
    """run_erase commits a GDPR erasure as equality-delete files: dry-run
    counts without committing, the real run leaves every data file
    untouched and hides the matches, --materialize folds the debt in."""
    from binlog_processer_spark.storage.table import SnapshotTable

    wh = str(tmp_path / "wh")
    _run(["jobs/run_pipeline.py", "--generate", "2000", "--output", wh])
    pred = "cast(doc_id as bigint) % 13 = 4"
    base = ["jobs/run_erase.py", "--warehouse", wh, "--where", pred,
            "--key-cols", "doc_id"]

    dry = _run([*base, "--dry-run"])
    assert dry["keys_matched"] > 0 and dry["committed"] is False

    m = _run([*base, "--verify"])
    assert m["committed"] is True
    assert m["keys_matched"] == dry["keys_matched"]
    assert m["data_files_untouched"] is True
    assert m["visible_matches_after"] == 0

    # idempotent-ish second pass: nothing left to match, nothing committed
    again = _run([*base])
    assert again["keys_matched"] == 0 and again["committed"] is False

    # materialize via a fresh predicate: debt folds, rows stay erased
    pred2 = "cast(doc_id as bigint) % 17 = 3"
    m2 = _run(["jobs/run_erase.py", "--warehouse", wh, "--where", pred2,
               "--key-cols", "doc_id", "--materialize", "--verify"])
    assert m2["committed"] is True
    assert m2["delete_debt_after"] == 0
    assert m2["visible_matches_after"] == 0
    tbl = SnapshotTable(os.path.join(wh, "routed"))
    assert tbl.read(spark).filter(pred).count() == 0  # first erase persists


def test_release_cli_bpe_tokenization(tmp_path, spark):
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (i, "the a of and to in is for on with "
             + " ".join(f"w{i}x{j}" for j in range(10 + i % 20)),
             "en", f"s{i % 3}", 200)
            for i in range(120)
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(docs)
    wh = str(tmp_path / "rel_bpe_wh")
    m = _run([
        "jobs/run_release.py", "--docs", docs, "--output", wh,
        "--max-tokens", "64", "--pack-shards", "2", "--bpe-merges", "24",
    ])
    assert m["bpe"]["merges"] == 24 and m["bpe"]["vocab_size"] > 24
    assert m["sequences"] > 0 and m["tokens_total"] > 0

    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from binlog_processer_spark.operators.bpe import BpeModel
    from binlog_processer_spark.storage.table import SnapshotTable

    with open(_os.path.join(wh, "vocab.json")) as f:
        model = BpeModel.from_dict(_json.load(f))
    assert len(model.vocab) == m["bpe"]["vocab_size"]

    kept = SnapshotTable(wh + "/kept").read(spark)
    # packed tokens are real vocabulary ids: min_count=1 training covers
    # the whole kept corpus, so no UNK (-1) anywhere
    low, high = kept.agg(
        F.min(F.array_min("tokens")), F.max(F.array_max("tokens"))
    ).collect()[0]
    assert low >= 0 and high < len(model.vocab)
    # and a kept row's ids decode back to its word stream
    row = kept.orderBy("doc_id").limit(1).collect()[0]
    rev = {v: k for k, v in model.vocab.items()}
    decoded = model.decode_pieces(rev[i] for i in row["tokens"])
    assert decoded.startswith("the a of and to in is for on with")


def test_tokenize_cli_train_then_frozen_apply(tmp_path, spark):
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (i, "low lower lowest new newer renew " + f"w{i % 7}", "en",
             f"s{i % 2}", 40)
            for i in range(60)
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(docs)
    wh = str(tmp_path / "tok_wh")
    trained = _run([
        "jobs/run_tokenize.py", "--docs", docs, "--output", wh,
        "--num-merges", "16", "--min-count", "1",
    ])
    assert trained["trained"] and trained["merges_learned"] == 16
    assert trained["written"] and trained["encoded_rows"] == 60

    import os as _os

    frozen = _run([
        "jobs/run_tokenize.py", "--docs", docs,
        "--vocab", _os.path.join(wh, "vocab.json"),
    ])
    # frozen apply reproduces the training run's encode exactly
    assert not frozen["trained"]
    assert frozen["vocab_size"] == trained["vocab_size"]
    assert frozen["per_source"] == trained["per_source"]


def test_qa_cli_distilled_quality_model(tmp_path, spark):
    # a corpus whose funnel verdict IS word-predictable: keepers are
    # long stopword-laden prose, droppers are short junk — the distilled
    # model must recover the rule cascade near-perfectly
    docs = str(tmp_path / "docs.parquet")
    rows = []
    for i in range(60):
        rows.append((i, "the a of and to in is for on with "
                     + " ".join(f"w{i}x{j}" for j in range(20)),
                     "en", f"s{i % 2}", 300))
    for i in range(60, 120):
        rows.append((i, "junk spam", "en", f"s{i % 2}", 9))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(docs)
    wh = str(tmp_path / "qa_wh")
    m = _run([
        "jobs/run_qa.py", "--docs", docs, "--output", wh, "--distill",
    ])
    assert m["docs_in"] == 120 and m["funnel_kept"] == 60
    assert m["distill_agreement_ppm"] >= 950_000
    from binlog_processer_spark.storage.table import SnapshotTable

    scores = SnapshotTable(wh + "/model_scores").read(spark)
    assert scores.count() == 120


def test_qa_cli_k_anonymity_gate(tmp_path, spark):
    docs = str(tmp_path / "kdocs.parquet")
    # 30 docs in one fat (source, lang, len) cell + 1 isolated outlier:
    # the outlier is the re-identifiable row the audit must count
    rows = [(i, "the of and a to " * 10, "en", "s0", 100) for i in range(30)]
    rows.append((99, "x " * 300, "fr", "s1", 600))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(docs)
    wh = str(tmp_path / "kqa_wh")
    m = _run(["jobs/run_qa.py", "--docs", docs, "--output", wh])
    assert m["kanon_rows_below_k"] == 1
    assert m["kanon_worst_risk_ppm"] == 1_000_000  # s1 is 100% below-k

    from binlog_processer_spark.storage.table import SnapshotTable

    rep = {r.source: r for r in
           SnapshotTable(wh + "/k_anonymity").read(spark).collect()}
    assert rep["s0"].risk_ppm == 0 and rep["s0"].min_class_size == 30
    assert rep["s1"].classes_below_k == 1


def test_verify_cli_freshness_timeline(tmp_path):
    wh = str(tmp_path / "fwh")
    _run(["jobs/run_pipeline.py", "--generate", "2000", "--output", wh])
    m = _run(["jobs/run_verify.py", "--warehouse", wh, "--freshness"])
    assert m["findings_total"] == 0
    # the generated corpus is day-dense per sink, so the dense calendar
    # exists and has EXACTLY zero silent days — an >= 0 assertion would
    # be vacuously true and miss a zero-fill accounting regression
    assert m["timeline_days"] > 0
    assert m["silent_sink_days"] == 0
    import os

    assert os.path.exists(os.path.join(wh, "freshness", "_current"))


def test_verify_cli_date_scoped(tmp_path):
    """--part-date / --date-range (TiDBCompareByDate.java:66-127): the
    scoped verify reads only files whose zone maps may contain the day
    (prune evidence in the summary) and flags in-range faults only."""
    wh = str(tmp_path / "dwh")
    # 15000 docs: commit_min spans the full 0..100000-minute range, so
    # part_date covers Jan-Mar 2024 and the month-dir layout gives the
    # zone maps date-disjoint files to prune (a smaller corpus lives
    # entirely inside January and every file would contain the probe day)
    _run([
        "jobs/run_pipeline.py", "--generate", "15000", "--output", wh,
        "--stats-columns", "part_date",
    ])

    # one January day
    full = _run(["jobs/run_verify.py", "--warehouse", wh, "--mutate"])
    assert full["findings_total"] > 0

    day = "2024-01-05"
    scoped = _run([
        "jobs/run_verify.py", "--warehouse", wh, "--part-date", day,
    ])
    assert scoped["findings_total"] == 0  # self-check stays clean scoped
    assert scoped["date_from"] == day and scoped["date_to"] == day
    # zone maps prune the other months' files (files are month-dir local
    # and part_date stats were recorded at commit)
    assert 0 < scoped["files_scanned"] < scoped["files_total"]

    scoped_mut = _run([
        "jobs/run_verify.py", "--warehouse", wh, "--part-date", day,
        "--mutate",
    ])
    # planted faults derive from the SCOPED final state: a strict subset
    # of the full run's findings
    assert 0 < scoped_mut["findings_total"] < full["findings_total"]

    rng = _run([
        "jobs/run_verify.py", "--warehouse", wh,
        "--date-range", "2024-01-01", "2024-01-31", "--mutate",
    ])
    assert (
        scoped_mut["findings_total"]
        <= rng["findings_total"]
        < full["findings_total"]
    )
    assert rng["files_scanned"] < rng["files_total"]


def test_compare_cli_date_scoped(tmp_path):
    """Scoped compare: a table agrees with itself inside any day window,
    and the scope is echoed in the summary."""
    wh = str(tmp_path / "cwh")
    _run([
        "jobs/run_pipeline.py", "--generate", "2000", "--output", wh,
        "--stats-columns", "part_date",
    ])
    routed = os.path.join(wh, "routed")
    m = _run([
        "jobs/run_compare.py", "--left", routed, "--right", routed,
        "--keys", "doc_id,event_seq", "--n-buckets", "64",
        "--date-range", "2024-01-01", "2024-01-31",
    ])
    assert m["agree"] is True and m["suspect_buckets"] == 0
    assert m["date_from"] == "2024-01-01" and m["date_to"] == "2024-01-31"
