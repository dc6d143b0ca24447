"""Seeded input generation for the benchmark.

Everything the program reads is produced here, from the workload seed only:
the structured change-event corpus (what the DuckDB oracle reads), its wire
serialization (what the program parses), the truncated corrupt lines and the
routing dimension. The generator is numpy/pyarrow only and shares no code
with the program, so the oracle never checks the program against itself.

Wire format (v1)::

    v1|event_seq|commit_s|create_s|op|file_id|source|bucket|doc_id|sign|n_tok|HEX
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_SOURCES = 20
N_BUCKETS = 4
TOKEN_MOD = 32000
EPOCH_S = 1704067200  # 2024-01-01 00:00:00 UTC
SYSTEM_SOURCE = "src13"  # routes to the `mysql` schema: dropped by the P1 filter
IGNORED_KEY = "src15#3"  # the routing dimension's ignore-list entry (P2)

ROUTING_SCHEMA = pa.schema(
    [
        ("table_key", pa.string()),
        ("db_instance", pa.string()),
        ("database_sharded", pa.string()),
        ("database_name", pa.string()),
        ("table_name", pa.string()),
        ("route", pa.string()),
        ("ignored", pa.bool_()),
    ]
)


def routing_table() -> pa.Table:
    rows = []
    for sn in range(N_SOURCES):
        src = f"src{sn}"
        db = "mysql" if src == SYSTEM_SOURCE else f"db_{src}"
        for b in range(N_BUCKETS):
            key = f"{src}#{b}"
            rows.append(
                (key, f"inst{b % 2}", f"db_{src}{b % 2 + 1}", db, f"t{b}",
                 f"{db}.t{b}", key == IGNORED_KEY)
            )
    return pa.Table.from_pylist(
        [dict(zip(ROUTING_SCHEMA.names, r)) for r in rows], ROUTING_SCHEMA
    )


@dataclass(frozen=True)
class Shape:
    """Size and payload of one generated batch of documents."""

    n_docs: int
    tok_lo: int  # tokens per event, inclusive bounds
    tok_hi: int
    corrupt_rate: float = 0.0  # share of lines truncated (FIXTURES F1: 0.5%)
    max_events: int = 3  # events per doc drawn from 1..max_events


def generate(rng: np.random.Generator, doc_lo: int, shape: Shape,
             file_tag: str, n_files: int) -> pa.Table:
    """Change events for docs [doc_lo, doc_lo + n_docs).

    Every doc opens with a Create (5% open with an Update: the row predates
    the log window); later events are 80% Update / 20% Delete. ``event_seq``
    is doc*4 + r, so it is unique and increases along each doc's history.
    Sign (archive-flag) rows are ~1% of events. Files are named
    ``<file_tag>-<k>``; the ``corrupt`` column marks lines the serializer
    truncates.
    """
    n = shape.n_docs
    docs = np.arange(doc_lo, doc_lo + n, dtype=np.int64)
    reps = rng.integers(1, shape.max_events + 1, n)
    doc = np.repeat(docs, reps)
    starts = np.repeat(np.cumsum(reps) - reps, reps)
    r = np.arange(len(doc), dtype=np.int64) - starts
    m = len(doc)

    u = rng.random(m)
    op = np.where(
        r == 0,
        np.where(u < 0.95, "Create", "Update"),
        np.where(u < 0.8, "Update", "Delete"),
    )
    src_num = doc % N_SOURCES
    # ~46% of docs land in bucket 0: the hot sink
    bucket = np.where(doc % 10 < 4, 0, doc % N_BUCKETS).astype(np.int32)
    doc_commit = rng.integers(0, 100_000, n)
    commit_s = EPOCH_S + (np.repeat(doc_commit, reps) + r * 37) * 60
    create_s = EPOCH_S + np.repeat(rng.integers(0, 80_000, n), reps) * 60
    s = rng.random(m)
    sign = pa.array(
        np.where(s < 0.006, 1, 0).astype(np.int32), mask=s >= 0.012
    )
    n_tok = rng.integers(shape.tok_lo, shape.tok_hi + 1, m).astype(np.int32)
    tok_off = np.zeros(m + 1, dtype=np.int32)
    np.cumsum(n_tok, out=tok_off[1:])
    vals = rng.integers(0, TOKEN_MOD, int(tok_off[-1]), dtype=np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(tok_off), pa.array(vals))
    file_k = rng.integers(0, n_files, n)
    file_id = pc.binary_join_element_wise(
        file_tag, pa.array(np.repeat(file_k, reps).astype(str)), "-"
    )
    corrupt = rng.random(m) < shape.corrupt_rate
    source = pa.array(np.char.add("src", src_num.astype(str)))
    return pa.table(
        {
            "doc_num": doc,
            "doc_id": pa.array(doc.astype(str)),
            "r": r.astype(np.int32),
            "op": pa.array(op),
            "event_seq": doc * 4 + r,
            "commit_s": commit_s,
            "create_s": create_s,
            "file_id": file_id,
            "source": source,
            "bucket": bucket,
            "table_key": pc.binary_join_element_wise(
                source, pa.array(bucket.astype(str)), "#"
            ),
            "sign": sign,
            "n_tok": n_tok,
            "tokens": tokens,
            "corrupt": corrupt,
        }
    )


def serialize(events: pa.Table) -> pa.Table:
    """One ``raw`` string column in the v1 wire format; rows flagged
    ``corrupt`` are truncated to their first 10 characters."""
    tokens = events.column("tokens").combine_chunks()
    vals = tokens.values.to_numpy(zero_copy_only=False).astype(">i4")
    hex_all = vals.tobytes().hex().upper().encode("ascii")
    off = tokens.offsets.to_numpy().astype(np.int64) * 8
    payload = pa.LargeStringArray.from_buffers(
        len(tokens), pa.py_buffer(off), pa.py_buffer(hex_all)
    )

    def s(name: str) -> pa.Array:
        return pc.cast(events.column(name), pa.large_string())

    sign = pc.fill_null(s("sign"), "")
    lit = pa.scalar("v1", pa.large_string())
    raw = pc.binary_join_element_wise(
        lit, s("event_seq"), s("commit_s"), s("create_s"), s("op"),
        s("file_id"), s("source"), s("bucket"), s("doc_id"), sign,
        s("n_tok"), payload, pa.scalar("|", pa.large_string()),
    )
    raw = pc.if_else(events.column("corrupt"), pc.utf8_slice_codeunits(raw, 0, 10), raw)
    return pa.table({"raw": pc.cast(raw, pa.string())})


def write_raw(events: pa.Table, raw_dir: str, name: str, n_files: int) -> str:
    """Serialize and write as ``n_files`` parquet files (one per read task).
    Returns a digest of the serialized lines."""
    os.makedirs(raw_dir, exist_ok=True)
    raw = serialize(events)
    step = -(-raw.num_rows // n_files)
    for k in range(n_files):
        part = raw.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(raw_dir, f"{name}-{k:03d}.parquet"))
    digest = hashlib.sha256()
    for chunk in raw.column("raw").chunks:
        for buf in chunk.buffers():
            if buf is not None:
                digest.update(buf)
    return digest.hexdigest()
