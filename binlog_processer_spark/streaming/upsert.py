"""Streaming CDC apply: foreachBatch MERGE into a keyed current-state
table — the canonical streaming sink for a change stream (the
reference's end state lives in TiDB/MySQL via per-record upserts,
TransferProcess/DBbiz analogues; Spark-native, the state is a snapshot
table the stream merges into per micro-batch).

Semantics: the committed table always equals ``aggregate.final_state``
over every event drained so far, REGARDLESS of how events are split
into micro-batches or in what order files arrive:

- per batch, intra-batch churn collapses first with the same single-pass
  ``max_by`` last-wins as the batch operator (no per-op maps);
- the merge keeps whichever side carries the higher ``event_seq`` (a
  monotone guard — a late-replayed file with older events can never
  regress a key);
- deletes are kept as TOMBSTONES (``final_op = 'Delete'``), not removed:
  dropping the row would let an older Create re-insert it in a later
  batch. Filter ``final_op <> 'Delete'`` at read time for the live view.

Scale posture: the batch side is collapsed to one row per touched key
before the merge, so the join is |hit files| × |batch keys| — with AQE
the batch side broadcasts when small. The merge itself is ONE
full-outer join (the repair/MERGE shape, operators/repair.py), and the
commit is FILE-SCOPED via rewrite_files: only state files containing a
batch key are rewritten, untouched files are carried by reference, so
steady-state write amplification tracks touched keys, not table size.
Hit files are PLANNED from the state table's bloom index (metadata
probes per batch key — the table itself is never scanned to find
them; the input_file_name() semi-join scan remains as the fallback
when the index can't answer). Checkpointing makes the drain
resumable; a replayed batch is idempotent under the monotone guard;
``expire_tombstones`` bounds state growth once the checkpoint's
low-water mark retires old seqs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import keyed_events, parse_raw
from ..operators import aggregate as agg
from ..operators.enrich import enrich_routing
from ..operators.route import filter_system_schemas, split_ignored
from ..storage.table import SnapshotTable

KEYS = ["database_name", "table_name", "doc_id"]
_STATE = ["final_op", "final_ts", "final_tokens", "final_seq"]


def merge_final_state(cur: DataFrame, batch_state: DataFrame) -> DataFrame:
    """One full-outer join; per key the side with the higher final_seq
    wins (ties go to the batch — replays are idempotent)."""
    b = batch_state.select(
        *[F.col(k).alias(f"__bk_{k}") for k in KEYS],
        *[F.col(c).alias(f"__b_{c}") for c in _STATE],
    )
    cond = None
    for k in KEYS:
        eq = cur[k] == b[f"__bk_{k}"]
        cond = eq if cond is None else (cond & eq)
    take_b = F.col("__b_final_seq").isNotNull() & (
        F.col("final_seq").isNull()
        | (F.col("__b_final_seq") >= F.col("final_seq"))
    )
    return cur.join(b, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"__bk_{k}"), cur[k]).alias(k)
            for k in KEYS
        ],
        *[
            F.when(take_b, F.col(f"__b_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in _STATE
        ],
    )


def run_streaming_upsert(
    spark: SparkSession,
    raw_dir: str,
    routing_df: DataFrame,
    out_dir: str,
    max_files_per_trigger: int | None = 1,
) -> SnapshotTable:
    """Drain ``raw_dir`` with AvailableNow; per micro-batch: parse →
    enrich → kept filters → batch-local last-wins → monotone merge into
    the state table → snapshot overwrite commit. Returns the state
    table (tombstones included; filter Delete for the live view)."""
    state_table = SnapshotTable(os.path.join(out_dir, "final_state_stream"))

    reader = spark.readStream.schema("raw string")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(raw_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        good = keyed_events(parse_raw(batch_df))
        kept, _ign = split_ignored(
            filter_system_schemas(enrich_routing(good, routing_df))
        )
        batch_state = agg.final_state(kept)
        if state_table.current_snapshot() is None:
            # bloom on the doc key: every later trigger plans its hit
            # files from the index instead of scanning the state table.
            # final_op bloom + final_seq zone map serve expire_tombstones
            # (a bloom PROVES a file has no 'Delete' rows; a min/max range
            # can't — 'Delete' sorts between 'Create' and 'Update')
            state_table.write(
                batch_state,
                mode="overwrite",
                bloom_columns=["doc_id", "final_op"],
                stats_columns=["final_seq"],
            )
            return
        # file-scoped commit (the repair pattern, jobs/run_repair.py):
        # only state files containing a batch key are rewritten; every
        # untouched file is carried by reference in the new manifest —
        # per-batch write cost scales with TOUCHED keys, not table size.
        # Reading snap-N while committing snap-N+1 is safe: the commit
        # writes a NEW snapshot dir and flips _current atomically.
        # Hit-file planning: bloom-index probes (metadata only — the
        # state table is NOT read) with the input_file_name() semi-join
        # scan as the fallback when the index can't answer. A bloom
        # false positive only rewrites an extra file unchanged; the
        # merge is exact over any superset of the true hit set.
        from ..storage.table import plan_hit_files

        touched = batch_state.select(*KEYS).distinct()
        hit_files = plan_hit_files(
            spark, state_table, touched, KEYS, bloom_col="doc_id"
        )
        # read_files([]) yields an empty frame with the table schema
        cur_hit = state_table.read_files(spark, hit_files)
        # merging against only the hit files is exact: a key's rows live
        # in whole files, and keys absent everywhere surface through the
        # full-outer join whatever the subset (same argument as repair)
        merged_hit = merge_final_state(cur_hit, batch_state)
        state_table.rewrite_files(hit_files, merged_hit)

    q = (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state_table


def expire_tombstones(
    spark: SparkSession, state_table: SnapshotTable, low_water_seq: int
) -> int:
    """Drop Delete tombstones at or below ``low_water_seq`` — the
    bounded-state maintenance for the keyed table. A tombstone exists to
    outvote a LATE REPLAY of an older event for its key; once the
    stream's checkpoint guarantees nothing at or below the low-water
    mark can ever be delivered again, those tombstones are dead weight
    (at 10^12 keys with churn they eventually dominate the table).

    File-scoped like every other commit here: only files holding an
    expirable tombstone are rewritten; returns the new snapshot id (or
    the current one when nothing qualifies). Live rows and tombstones
    above the mark are untouched — expiry can never change what a merge
    would decide for any event that can still arrive.

    Candidate files are planned from the table's metadata first — the
    final_op bloom drops tombstone-free files, the final_seq zone map
    drops files whose every row is above the mark — so the exact
    input_file_name() scan touches candidates only, not the table.
    Tables without the index degrade to the full scan (prune keeps
    everything it cannot disprove); results are identical either way.
    """
    expirable = (F.col("final_op") == "Delete") & (
        F.col("final_seq") <= int(low_water_seq)
    )
    candidates = state_table.prune_files(
        {
            "final_op": ("Delete", "Delete"),
            "final_seq": (None, int(low_water_seq)),
        }
    )
    hit_files = sorted(
        r["__f"]
        for r in state_table.read_files(spark, candidates)
        .filter(expirable)
        .withColumn("__f", F.input_file_name())
        .select("__f")
        .distinct()
        .collect()
    )
    snap = state_table.current_snapshot()
    if not hit_files:
        return snap if snap is not None else -1
    survivors = state_table.read_files(spark, hit_files).filter(~expirable)
    return state_table.rewrite_files(hit_files, survivors)
