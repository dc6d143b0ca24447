"""End-to-end batch plan: parse → enrich → route → write → aggregate.

This is the Spark restatement of the reference's resolve entry point
(SURVEY.md §3.1, binlog-main BinlogMain.java → TaskProcessor → BinlogFileReader
→ PartitionWriterManager): one linear DataFrame DAG instead of MQ + thread
pools. The raw-event scan + parse + broadcast enrich + routing expressions run
shuffle-free inside one codegen stage; the only shuffles are the pre-write
rebalance by sink (the fan-out write clustering) and the final aggregates
(keyed by sink).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import keyed_events, parse_raw, split_quarantine
from ..operators import aggregate as agg
from ..operators.enrich import enrich_routing
from ..operators.resume import ProcessedManifest, remaining_events
from ..operators.route import PARTITION_COLS, route, sign_timeline
from ..storage.table import SnapshotTable


@dataclass
class PipelineResult:
    metrics: dict = field(default_factory=dict)
    tables: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    raw_df: DataFrame,
    routing_df: DataFrame,
    out_dir: str,
    resume: bool = True,
    stats_columns: list[str] | None = None,
) -> PipelineResult:
    """raw_df: one `raw` string column (the serialized event log).
    routing_df: broadcast dimension (table_key → sink attributes).
    Writes snapshot tables under out_dir; returns metrics + table handles.

    ``resume``: skip input files already in the processed-file manifest and
    append the increment (False overwrites the routed table).
    ``stats_columns``: routed-table columns to record per-file zone maps for.
    """
    t0 = time.time()
    phases: dict[str, float] = {}
    manifest = ProcessedManifest(os.path.join(out_dir, "_processed.json"))
    already_done = manifest.load() if resume else set()

    def _enrich(parsed: DataFrame) -> DataFrame:
        # the parse-latency stamp has served the observation; routing and
        # storage never read it (a no-op on an unstamped parse)
        good = keyed_events(parsed).drop("parse_batch_us")
        if resume:
            good = remaining_events(good, already_done)
        return enrich_routing(good, routing_df)

    # ONE physical parse pass, ZERO extra materializations: the quarantine
    # count and the parse-latency percentiles ride the write action as an
    # `observe()` (CollectMetrics) node on the parsed stream — no persist of
    # the parsed relation. An earlier design cached parsed (7M+ rows of
    # token arrays) just to serve those two scalars; on a shared memory bus
    # that cache write was a second copy of the whole fact table, and at
    # 10^12 rows it would be a second copy of the corpus. The quarantine
    # ROWS (not just the count) are re-derived by a second parse only when
    # the observed count is nonzero — the cold repair path, never the hot one.
    obs = Observation("parse_metrics")
    obs_exprs = [
        F.sum((F.col("status") != "OK").cast("long")).alias("n_quarantine"),
        F.percentile_approx("parse_batch_us", [0.5, 0.95, 0.99])
        .alias("lat_pcts"),
    ]
    enriched = _enrich(
        parse_raw(raw_df, with_metrics=True).observe(obs, *obs_exprs)
    )
    # Soft-delete needs the sign timeline, and deriving it from `enriched`
    # (route()'s default) re-executes the whole scan→parse subtree as the
    # broadcast-subquery job — a SECOND full hex-decode of every token
    # payload just to find the rare administrative sign rows. The sign field
    # is wire field 10, BEFORE the token payload (field 12), so a pure
    # codegen split_part prefilter on the raw line finds candidate rows
    # while scanning only the short fixed-field prefix — then the identical
    # parse→resume→enrich→filter chain runs on that sliver only. Bit-equal
    # by construction: concat_ws renders a NULL sign as the empty string, so
    # non-empty field 10 ⇔ sign IS NOT NULL, and corrupt/resumed/ignored
    # rows fall out of the sliver exactly as they fall out of `kept`.
    sign_sliver = raw_df.filter(
        F.split_part(F.col("raw"), F.lit("|"), F.lit(10)) != F.lit("")
    )
    timeline = sign_timeline(_enrich(parse_raw(sign_sliver)))
    # cluster_for_write: the one fact shuffle in the whole plan — pre-explode
    # rebalance by sink so each partition dir is written by one task.
    # The envelope keeps `before`/`after` as derived views for queries, but
    # only `img` is persisted/written: the three structs share one token
    # array, and tripling it would triple shuffle, cache, and parquet bytes
    # (the dominant cost at 10^12 rows).
    # Written directly, never cached: caching would columnar-encode every
    # token array a second time, and no consumer needs the arrays again —
    # the aggregates below re-read the committed parquet with the token
    # column pruned away (a few % of the written bytes).
    routed, ignored_counts = route(
        enriched, cluster_for_write=True, sign_timeline=timeline
    )
    # storage flattens the image: img.doc_id / img.n_tok always equal the
    # top-level columns (with_envelope builds the image from the same row),
    # so persisting the struct would carry a second doc_id STRING and n_tok
    # through the shuffle, the cache, and the parquet encode — at 10^12 rows
    # that duplication is real bytes. Readers reconstruct the envelope from
    # (doc_id, n_tok, img_tokens).
    routed = routed.select(
        "tree",
        "db_instance",
        "database_name",
        "table_name",
        "part_month",
        "part_date",
        "doc_id",
        "op",
        "event_seq",
        "commit_ts",
        "create_ts",
        "file_id",
        "source",
        "n_tok",
        F.col("img.tokens").alias("img_tokens"),
    )
    tables = {
        name: SnapshotTable(os.path.join(out_dir, name))
        for name in (
            "routed",
            "sink_counts",
            "watermarks",
            "histograms",
            "lineage",
            "quarantine",
        )
    }
    t = time.time()
    tables["routed"].write(
        routed,
        partition_by=PARTITION_COLS,
        mode="overwrite" if not resume else "append",
        # opt-in zone maps (e.g. ["commit_ts"]): one footer pass at
        # commit; selective readers then plan file-skipping from the
        # manifest (SnapshotTable.read_where)
        stats_columns=stats_columns,
    )
    phases["route_write"] = round(time.time() - t, 3)
    # aggregates reflect the committed table (not just the increment) so
    # a resumed run republishes complete counts — the reference
    # re-derives counts from t_binlog_process_log the same way
    # (BaseDataCompare.java:38-67). One column-pruned scan feeds all four
    # outputs via a shared super-key rollup.
    t = time.time()
    committed = tables["routed"].read(spark)
    sink_counts, wm, hist, lineage, rollup_base = agg.single_pass_rollups(committed)

    # materialize the shared rollup ONCE before fanning out publishes —
    # otherwise the concurrent jobs below race to compute the same cached
    # partitions
    rollup_base.count()
    phases["rollup"] = round(time.time() - t, 3)

    # the four aggregate outputs are tiny (per-sink cardinality, one file
    # each) but each publish is its own Spark job whose submit + commit
    # tail is serial; at higher core counts those fixed tails dominate the
    # wall clock (they don't parallelize), so publish CONCURRENTLY —
    # Spark's scheduler handles multi-threaded job submission natively
    from concurrent.futures import ThreadPoolExecutor

    def _publish_lineage():
        # lineage is one row per file×sink: collect once, reuse for the
        # manifest and the routed-row metric without further scans
        rows = lineage.collect()
        tables["lineage"].write(spark.createDataFrame(rows, lineage.schema))
        return rows

    # observed during the routed write — no extra pass over parsed
    try:
        observed = obs.get
    except Exception:
        # AQE's runtime empty-relation propagation can replace the whole
        # map subtree (including the CollectMetrics node) with an empty
        # LocalTableScan when the write increment turns out empty — e.g.
        # a fully-resumed rerun — and the observation then surfaces as a
        # schema-less row that fails to deserialize. Recompute the two
        # scalars with an explicit aggregate; this rare path re-parses,
        # but only on runs that wrote nothing.
        row = parse_raw(raw_df, with_metrics=True).agg(
            *obs_exprs
        ).collect()[0]
        observed = row.asDict()
    n_quarantine = int(observed["n_quarantine"] or 0)
    lat = observed["lat_pcts"]
    lat_p50, lat_p95, lat_p99 = lat if lat else (None, None, None)

    t = time.time()
    with ThreadPoolExecutor(max_workers=6) as ex:
        f_lineage = ex.submit(_publish_lineage)
        f_pub = [
            ex.submit(tables["sink_counts"].write, sink_counts.coalesce(1)),
            ex.submit(tables["watermarks"].write, wm.coalesce(1)),
            ex.submit(tables["histograms"].write, hist.coalesce(1)),
        ]
        lineage_rows = f_lineage.result()
        for f in f_pub:
            f.result()
    rollup_base.unpersist()
    phases["publish"] = round(time.time() - t, 3)

    if n_quarantine:
        # cold path: re-parse to recover the quarantine ROWS (the hot
        # path only ever needs the count, which the observation carried)
        _, bad_rows = split_quarantine(parse_raw(raw_df))
        tables["quarantine"].write(bad_rows)

    # one atomic catalog version pins every table this run committed:
    # a reader between the routed commit and a rollup commit sees the
    # PREVIOUS consistent set, never new data with stale counts
    # (storage/catalog.py). One JSON write.
    from ..storage.catalog import Catalog

    Catalog(out_dir).commit(
        {
            name: t.current_snapshot()
            for name, t in tables.items()
            if t.current_snapshot() is not None
        },
        note="pipeline",
    )

    # lineage spans the whole committed table; metrics report THIS run's
    # increment (the reference's per-run t_binlog_process_log semantics)
    files_done = sorted({r.file_id for r in lineage_rows})
    new_files = [f for f in files_done if f not in already_done]
    n_routed = sum(
        r.routed_cnt for r in lineage_rows if r.file_id not in already_done
    )
    manifest.mark(files_done)

    metrics = {
        "rows_routed": n_routed,
        "rows_failed": n_quarantine,
        "files_processed": len(new_files),
        # per-Arrow-batch parse wall time percentiles (BASELINE metrics
        # contract: rows parsed/routed/failed + parse-latency pcts)
        "parse_batch_us_p50": lat_p50,
        "parse_batch_us_p95": lat_p95,
        "parse_batch_us_p99": lat_p99,
        "wall_sec": round(time.time() - t0, 3),
        "phase_sec": phases,
    }
    # run-health report (the reference's t_binlog_process_report +
    # Prometheus counters, DBbiz.java:133-156 / PrometheusMetrics.java):
    # one narrow metric/value snapshot per run, next to lineage —
    # zero extra scans (cardinalities fold the collected lineage
    # rows) and one tiny single-file commit after wall_sec is
    # stamped (it reports that wall).
    from ..operators.report import (
        REPORT_SCHEMA_DDL,
        process_report_rows,
    )

    rpt_rows = process_report_rows(
        metrics,
        routed_files=len(tables["routed"].data_files()),
        # sink/tree cardinalities from the rows _publish_lineage
        # already collected — the report adds ZERO scans to the run
        lineage_rows=lineage_rows,
    )
    rpt_tbl = SnapshotTable(os.path.join(out_dir, "process_report"))
    from pyspark.sql.types import _parse_datatype_string

    try:
        # driver-side single-file commit: no Spark job for 20 rows
        rpt_tbl.write_rows(
            rpt_rows,
            _parse_datatype_string(REPORT_SCHEMA_DDL),
            mode="append",
        )
    except ValueError:
        # URI-rooted warehouse: fall back to the Spark write path
        rpt_tbl.write(
            spark.createDataFrame(
                rpt_rows, schema=REPORT_SCHEMA_DDL
            ).coalesce(1),
            mode="append",
        )
    tables["process_report"] = rpt_tbl
    return PipelineResult(metrics=metrics, tables=tables)
