"""Routing: filters, image selection, soft-delete, dual partition trees,
and the fan-out partition layout.

Reference parity:
- P1 system-schema filter (BinlogFileReader.java:188-190)
- P2 ignore-list filter + ignored-count side output
  (BinlogFileReader.java:191-207, DBbiz.java:161-213)
- P3 soft-delete strategy: a per-(db, table) flag toggled by `archive_table`
  sign rows; while set, later Delete events are dropped
  (BinlogFileReader.java:218-234, IgnoreStrategy.java:10-30). Order-dependent
  → expressed as a floor lookup over event_seq into a broadcast sign timeline.
- P4 row-image selection: Create/Update write the After image, Delete writes
  the Before image (PartitionWriterManager.java:141-152).
- S5 dual partition trees: every record lands in BOTH the create-date tree and
  the update-date tree (PartitionWriterManager.java:62-66,118-137) →
  a 2-way explode on a (tree, tree_ts) array, then partitionBy.

Scale posture: all of this is expressions + broadcast joins. The one fact
shuffle is the optional pre-write rebalance by (database, table) — low
cardinality but potentially hot, so AQE splits it by size. Fan-out is
`partitionBy(*PARTITION_COLS)` on a single pass — no per-sink job loop, no
driver-side iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SYSTEM_DATABASES = ("mysql", "infra")
# physical layout: month-level dirs keep file sizes near the target at any
# scale (the Iceberg `days(ts)` vs `months(ts)` transform choice — at 10^12
# rows day partitions are right; at bench scale they'd be 1000s of tiny
# files). `part_date` (day) remains a data column for the reference's
# day-partition semantics (TimeBasedPartitioner.java:15-38) and all
# aggregates; readers filtering part_date still prune to the month dir.
PARTITION_COLS = ["tree", "database_name", "table_name", "part_month"]


def filter_system_schemas(df: DataFrame, db_col: str = "database_name") -> DataFrame:
    """P1: drop events for system databases."""
    return df.filter(~F.col(db_col).isin(*SYSTEM_DATABASES))


def split_ignored(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P2: (kept rows, per-table ignored-count side output)."""
    kept = df.filter(~F.col("ignored")).drop("ignored")
    ignored_counts = (
        df.filter(F.col("ignored"))
        .groupBy("database_name", "table_name")
        .agg(F.count("*").alias("ignored_cnt"))
    )
    return kept, ignored_counts


# ceiling on sign events per (db, table) before the broadcast floor-lookup
# is refused: 1M structs ≈ 16 MB per hot sink — beyond that the "sign events
# are rare administrative rows" smallness assumption is simply wrong and the
# window implementation should be used instead
MAX_SIGN_TIMELINE = 1_000_000
_SIGN_TL_TYPE = "array<struct<event_seq:bigint,sign:int>>"


def _sign_timeline(df: DataFrame) -> DataFrame:
    """Per-(db, table) descending timeline of sign (archive-flag) events.

    Sign events are rare administrative rows — the reference keeps the whole
    flag state in one in-process map (IgnoreStrategy.java:10-30,
    BinlogFileReader.java:218-234), so "timeline fits in a broadcast" is the
    same smallness assumption, made explicit AND guarded: a timeline above
    MAX_SIGN_TIMELINE raises a diagnosable error instead of an opaque
    driver/broadcast OOM.
    """
    tl = (
        df.filter(F.col("sign").isNotNull())
        .groupBy("database_name", "table_name")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("event_seq", "sign")), asc=False
            ).alias("__sign_tl")
        )
    )
    guard_msg = F.concat(
        F.lit("soft-delete sign timeline for ("),
        F.col("database_name"), F.lit(", "), F.col("table_name"),
        F.lit(") has "), F.size("__sign_tl").cast("string"),
        F.lit(f" entries (> {MAX_SIGN_TIMELINE}): too large to broadcast — "
              "sign events are not rare here; use the window-based "
              "soft-delete instead"),
    )
    return tl.withColumn(
        "__sign_tl",
        F.when(
            F.size("__sign_tl") <= MAX_SIGN_TIMELINE, F.col("__sign_tl")
        ).otherwise(F.raise_error(guard_msg).cast(_SIGN_TL_TYPE)),
    )


def sign_timeline(enriched: DataFrame) -> DataFrame:
    """Sign timeline from an enriched stream, after the same P1/P2 filters
    ``route()`` applies before soft-delete — so a caller can derive the
    timeline from a cheaper upstream (e.g. a sign-prefiltered sliver of the
    raw scan) and pass it via ``route(sign_timeline=...)`` with semantics
    identical to the in-route derivation."""
    kept, _ = split_ignored(filter_system_schemas(enriched))
    return _sign_timeline(kept)


def _floor_flag_expr() -> F.Column:
    """Flag in effect at this row = last sign event with event_seq <= ours."""
    # get() (not [0]): ANSI mode throws on empty-array index, and "no sign
    # event at or before this row" is a legal state meaning flag-unset
    return F.expr("get(filter(__sign_tl, v -> v.event_seq <= event_seq), 0).sign")


def apply_soft_delete(
    df: DataFrame, timeline: DataFrame | None = None
) -> DataFrame:
    """P3: drop Delete events while the archive flag is set.

    Broadcast floor-lookup against the sign timeline instead of a
    `last(sign, ignoreNulls) OVER (... ROWS UNBOUNDED PRECEDING)` window:
    the window would shuffle AND sort the whole fact by (db, table) just to
    propagate a handful of administrative flags. Same result, zero fact
    shuffle.

    ``timeline``: precomputed ``sign_timeline`` output. Default (None)
    derives it from ``df`` — a second scan of the fact when the caller
    hasn't persisted upstream; callers composing several soft-delete-aware
    queries over the same events compute it once and pass it (same pattern
    as ``reconcile``/``repair`` accepting ``fs``).
    """
    joined = df.join(
        F.broadcast(timeline if timeline is not None else _sign_timeline(df)),
        ["database_name", "table_name"],
        "left",
    )
    # evaluate the timeline scan only on Delete rows (the only op the flag
    # affects); a NULL flag (no sign event seen yet) must NOT drop Deletes
    flag = F.when(F.col("op") == "Delete", _floor_flag_expr())
    return joined.filter(~(F.coalesce(flag, F.lit(0)) == 1)).drop("__sign_tl")


def with_envelope(df: DataFrame) -> DataFrame:
    """Build the CDC envelope {before, after, op} and select the written image.

    Row image = (doc_id, tokens, n_tok). Create: before=NULL; Delete:
    after=NULL (SchemaData.java:150-168 envelope union semantics).
    """
    row_img = F.struct("doc_id", "tokens", "n_tok")
    return (
        df.withColumn(
            "before", F.when(F.col("op") != "Create", row_img)
        )
        .withColumn("after", F.when(F.col("op") != "Delete", row_img))
        .withColumn(
            "img",
            F.when(F.col("op") == "Delete", F.col("before")).otherwise(
                F.col("after")
            ),
        )
    )


def fan_out_trees(df: DataFrame) -> DataFrame:
    """S5: duplicate each record into the create-date and update-date trees."""
    trees = F.array(
        F.struct(F.lit("create").alias("tree"), F.col("create_ts").alias("tree_ts")),
        F.struct(F.lit("update").alias("tree"), F.col("commit_ts").alias("tree_ts")),
    )
    return (
        df.withColumn("__t", F.explode(trees))
        .withColumn("tree", F.col("__t.tree"))
        .withColumn("part_date", F.to_date("__t.tree_ts"))
        .withColumn("part_month", F.date_format("__t.tree_ts", "yyyy-MM"))
        .drop("__t")
    )


def route(
    enriched: DataFrame,
    cluster_for_write: bool | str = False,
    sign_timeline: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full routing stage: filters → soft-delete → envelope → dual trees.

    Returns (routed rows ready for partitioned write, ignored-count side agg).

    cluster_for_write (truthy, e.g. ``"rebalance"``): AQE rebalance hint on
    (database, table) BEFORE the 2-way tree explode — each sink partition dir
    is then written by one task (the reference's one-writer-per-sink-path
    invariant, PartitionWriterManager.java:139-167), the shuffle moves each
    token array once, not twice, and Spark sizes the write tasks at runtime
    from the actual shuffle bytes (advisoryPartitionSizeInBytes): hot sinks
    split by data size, small sinks coalesce into one task. Off by default
    so pure query composition stays shuffle-free. The hint omits a
    bucket(doc_id) column on purpose: hashing it scatters each sink's cells
    across the partition space, so AQE can no longer give a small sink one
    writer; add it back only where every (sink, bucket) cell exceeds the
    advisory partition size.
    """
    df = filter_system_schemas(enriched)
    kept, ignored_counts = split_ignored(df)
    kept = apply_soft_delete(kept, timeline=sign_timeline)
    kept = with_envelope(kept)
    if cluster_for_write:
        kept = kept.hint("rebalance", "database_name", "table_name")
    routed = fan_out_trees(kept)
    return routed, ignored_counts
