"""Serialize / parse of binlog-style event records.

The reference reads binary binlog events row-at-a-time
(binlog-resovler BinlogFileReader.java:284-343) and materializes typed change
records. Here the wire format is a pipe-delimited log line with a
comma-joined token payload, produced JVM-side (whole-stage codegen) and parsed
back by a **vectorized Arrow-batched mapInPandas** — never per-row Python
(BASELINE.json input_hint mandate).

Wire format (RAW_VERSION v1)::

    v1|<event_seq>|<unix_commit_s>|<unix_create_s>|<op>|<file_id>|<source>|<bucket>|<doc_id>|<sign-or-empty>|<n_tok>|<hex(int32-BE tokens)>

Field bounds are part of the format contract: numeric int64 fields
(event_seq, timestamps) carry at most 18 digits (< 10^18; binlog sequence
surrogates and unix epochs never approach this), int32 fields (bucket,
n_tok, sign) at most 9. Out-of-bound values quarantine as PARSE_ERROR.

The token payload is hex-packed int32 (8 hex chars per token, the binlog-bytes
analogue): the batch decode is ONE ``bytes.fromhex`` + ``np.frombuffer`` +
``np.split`` per Arrow batch — no per-token Python, unlike a delimited decimal
payload which would need a string→int parse per token.

Malformed lines (truncated/garbled upstream) are not dropped: they surface as
``status='PARSE_ERROR'`` quarantine rows, modeled on the reference's status
codes (binlog-resovler resolver/Status.java:3-15) and exception handler
side-channel (TaskProcessor.java:63-65).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:
    import pandas as pd

RAW_VERSION = "v1"
N_FIELDS = 12

PARSED_SCHEMA = StructType(
    [
        StructField("event_seq", LongType()),
        StructField("commit_ts", TimestampType()),
        StructField("create_ts", TimestampType()),
        StructField("op", StringType()),
        StructField("file_id", StringType()),
        StructField("source", StringType()),
        StructField("bucket", IntegerType()),
        StructField("doc_id", StringType()),
        StructField("sign", IntegerType()),
        StructField("n_tok", IntegerType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("status", StringType()),
        StructField("raw", StringType()),
    ]
)


def serialize_expr() -> F.Column:
    """JVM-side raw-line construction (no Python in the loop).

    concat_ws renders a NULL ``sign`` as an empty field, so nullability
    round-trips.
    """
    return F.concat_ws(
        "|",
        F.lit(RAW_VERSION),
        F.col("event_seq").cast("string"),
        F.unix_timestamp("commit_ts").cast("string"),
        F.unix_timestamp("create_ts").cast("string"),
        F.col("op"),
        F.col("file_id"),
        F.col("source"),
        F.col("bucket").cast("string"),
        F.col("doc_id"),
        F.coalesce(F.col("sign").cast("string"), F.lit("")),
        F.col("n_tok").cast("string"),
        # hex-packed int32-BE payload, built entirely in codegen. The
        # & 0xFFFFFFFF mask is load-bearing: hex() of a NEGATIVE int
        # renders 16 chars of 64-bit two's complement and lpad(…, 8)
        # would keep the WRONG (high-order) half — masking to 32 bits
        # first makes every token render as exactly its 8-char int32-BE
        # image (property-tested over the full int32 range)
        F.array_join(
            F.transform(
                "tokens",
                lambda t: F.lpad(
                    F.hex(t.cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))),
                    8,
                    "0",
                ),
            ),
            "",
        ),
    )


def corrupt_expr(raw: F.Column, doc_num: F.Column, r: F.Column) -> F.Column:
    """Deterministic ~0.5% corruption (FIXTURES.md F1): truncate the line."""
    return F.when(
        (doc_num * 5 + r) % 211 == 7, F.substring(raw, 1, 10)
    ).otherwise(raw)


# mapInArrow inner schema: timestamps travel as unix seconds (bigint) and are
# finished by a JVM-side timestamp_seconds cast in parse_raw — keeps the
# Arrow batch free of timezone bookkeeping
_ARROW_FIELDS = (
    "event_seq long, commit_s long, create_s long, op string, file_id string, "
    "source string, bucket int, doc_id string, sign int, n_tok int, "
    "tokens array<int>, status string, raw string"
)
_ARROW_FIELDS_METRICS = _ARROW_FIELDS + ", parse_batch_us long"


def _gather_field(flat, offsets, lens, i: int):
    """Column i of the split result; null where the row has <= i fields."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    valid = lens > i
    idx = np.where(valid, offsets[:-1] + i, 0)
    f = pc.take(flat, pa.array(idx, type=pa.int64()))
    return pc.if_else(pa.array(valid), f, pa.scalar(None, pa.string()))


def _parse_arrow_batches(batches, with_metrics: bool = False):
    """Pure-Arrow parse: split, validate, decode — no per-row Python objects.

    pandas str.split materializes N_FIELDS Python strings per row; Arrow's
    split_pattern + take keeps everything in contiguous buffers (~3x faster),
    and the token payload decodes as ONE fromhex + frombuffer per batch into
    a ListArray built directly from offsets (zero per-row array objects).

    ``with_metrics``: append a per-batch ``parse_batch_us`` column (the
    batch's wall parse time, repeated on each of its rows) so the driver can
    aggregate parse-latency percentiles without a second pass.
    """
    import time as _time

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # length-bounded so every downstream pc.cast is guaranteed in-range:
    # 18 digits < 2^63 (int64 fields), 9 digits < 2^31 (int32 fields).
    # Out-of-range / non-numeric / bare '-' values are DATA, not bugs — they
    # must fold into status='PARSE_ERROR', never raise in the executor.
    digits64 = r"^\d{1,18}$"
    digits32 = r"^\d{1,9}$"
    sign_re = r"^(-?\d{1,9})?$"
    for batch in batches:
        t_batch = _time.perf_counter()
        raw = batch.column(0)
        if isinstance(raw, pa.ChunkedArray):
            raw = raw.combine_chunks()
        lst = pc.split_pattern(raw, "|")
        lens = np.asarray(pc.list_value_length(lst))
        flat = lst.flatten()
        offsets = np.asarray(lst.offsets, dtype=np.int64)
        f = [_gather_field(flat, offsets, lens, i) for i in range(N_FIELDS)]

        ok = pc.and_kleene(
            pc.equal(f[0], RAW_VERSION), pa.array(lens >= N_FIELDS)
        )
        for i in (1, 2, 3):
            ok = pc.and_kleene(ok, pc.match_substring_regex(f[i], digits64))
        for i in (7, 10):
            ok = pc.and_kleene(ok, pc.match_substring_regex(f[i], digits32))
        ok = pc.and_kleene(
            ok, pc.match_substring_regex(f[9], sign_re)
        )
        ok = pc.if_else(pc.is_valid(ok), ok, pa.scalar(False))

        def masked(i):
            return pc.if_else(ok, f[i], pa.scalar(None, pa.string()))

        def as_int(i, typ):
            return pc.cast(masked(i), typ)

        # payload integrity: exactly 8 hex chars per declared token
        n_tok_sel = pc.fill_null(
            pc.match_substring_regex(f[10], digits32), False
        )
        n_tok_all = np.asarray(
            pc.cast(pc.if_else(n_tok_sel, f[10], "0"), pa.int64())
        )
        pay_len = np.asarray(pc.binary_length(pc.if_else(ok, f[11], "")))
        ok_np = np.asarray(ok) & (pay_len == n_tok_all * 8)
        hexok = pc.match_substring_regex(
            pc.if_else(ok, f[11], ""), r"^[0-9a-fA-F]*$"
        )
        ok_np &= np.asarray(hexok)
        ok = pa.array(ok_np)

        # ONE decode for the whole batch, ListArray straight from offsets.
        # A StringArray's value buffer IS the row-order concatenation of all
        # its strings — slice it once instead of materializing per-row
        # Python strings (to_pylist) just to re-join them.
        payloads = pc.if_else(ok, f[11], "")
        if isinstance(payloads, pa.ChunkedArray):
            payloads = payloads.combine_chunks()
        _, off_buf, data_buf = payloads.buffers()
        if len(payloads) and data_buf is not None:
            po = np.frombuffer(off_buf, dtype=np.int32)[
                payloads.offset : payloads.offset + len(payloads) + 1
            ]
            hex_all = data_buf.to_pybytes()[po[0] : po[-1]]
        else:
            hex_all = b""
        blob = bytes.fromhex(hex_all.decode("ascii"))
        vals = np.frombuffer(blob, dtype=">i4").astype(np.int32)
        counts = np.where(ok_np, n_tok_all, 0)
        tok_offsets = np.zeros(len(counts) + 1, dtype=np.int32)
        np.cumsum(counts, out=tok_offsets[1:])
        tokens = pa.ListArray.from_arrays(
            pa.array(tok_offsets, type=pa.int32()), pa.array(vals, pa.int32())
        )
        # null (not empty) token lists on quarantine rows
        tokens = pc.if_else(
            ok, tokens, pa.scalar(None, pa.list_(pa.int32()))
        )

        sign = pc.cast(
            pc.if_else(pc.equal(masked(9), ""), pa.scalar(None, pa.string()),
                       masked(9)),
            pa.int32(),
        )
        arrays = [
            as_int(1, pa.int64()),
            as_int(2, pa.int64()),
            as_int(3, pa.int64()),
            masked(4),
            masked(5),
            masked(6),
            as_int(7, pa.int32()),
            masked(8),
            sign,
            as_int(10, pa.int32()),
            tokens,
            pc.if_else(ok, pa.scalar("OK"), pa.scalar("PARSE_ERROR")),
            # raw kept only for quarantine forensics — nulled on OK rows
            # so ~2KB/row of wire text never re-enters the pipeline
            pc.if_else(ok, pa.scalar(None, pa.string()), raw),
        ]
        names = [
            "event_seq", "commit_s", "create_s", "op", "file_id",
            "source", "bucket", "doc_id", "sign", "n_tok", "tokens",
            "status", "raw",
        ]
        if with_metrics:
            us = int((_time.perf_counter() - t_batch) * 1_000_000)
            arrays.append(
                pa.array(np.full(len(raw), us, dtype=np.int64))
            )
            names.append("parse_batch_us")
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def parse_raw(df: DataFrame, with_metrics: bool = False) -> DataFrame:
    """raw-line DataFrame (column ``raw``) → typed change records.

    mapInArrow (vectorized, zero per-row Python); batch size governed by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``. The unix-seconds →
    timestamp finish runs JVM-side in whole-stage codegen.

    ``with_metrics=True`` appends ``parse_batch_us`` (per-batch wall parse
    time) for latency-percentile aggregation downstream.
    """
    import functools

    fields = _ARROW_FIELDS_METRICS if with_metrics else _ARROW_FIELDS
    fn = functools.partial(_parse_arrow_batches, with_metrics=with_metrics)
    parsed = df.select("raw").mapInArrow(fn, fields)
    extra = ["parse_batch_us"] if with_metrics else []
    return parsed.select(
        "event_seq",
        F.timestamp_seconds("commit_s").alias("commit_ts"),
        F.timestamp_seconds("create_s").alias("create_ts"),
        "op", "file_id", "source", "bucket", "doc_id", "sign", "n_tok",
        "tokens", "status", "raw", *extra,
    )


def parse_raw_sql(df: DataFrame) -> DataFrame:
    """The grok/regex parse path: the SAME wire format, validation rules,
    and output schema as ``parse_raw``, expressed entirely in Catalyst —
    split + anchored-regex field validation + in-SQL hex decode, all
    whole-stage codegen, ZERO Python workers.

    Two vectorized parses on purpose: the Arrow path wins on raw decode
    throughput (measured 4x at sf0.1 on a cached input, 0.4 s vs 1.7 s —
    one ``fromhex``/``frombuffer`` per batch beats a per-token ``conv``
    even inside codegen) and stays the production default; this path
    wins when cluster Python workers are the scarce resource (none are
    spawned) or arrow transfer is disabled. Each one oracle-checks the
    other (equality pinned by test and by the parse_regex_roundtrip
    contract query).

    Every cast is reachable only behind the validation mask (CASE
    branches evaluate lazily in codegen), so malformed data still folds
    into ``status='PARSE_ERROR'`` under ANSI mode instead of raising.
    """
    fields = F.split(F.col("raw"), r"\|", -1)

    def fld(i: int) -> F.Column:
        return F.try_element_at(fields, F.lit(i + 1))

    # \z (absolute end), NOT $: Java-regex $ matches before a trailing
    # line terminator, so '42\n' would pass ^\d{1,18}$ here while the
    # Arrow path (RE2-style end-of-text $) quarantines it — the two
    # parsers must reject the exact same garbled-input class
    d64 = r"^\d{1,18}\z"
    d32 = r"^\d{1,9}\z"
    ok = (
        (fld(0) == RAW_VERSION)
        & (F.size(fields) >= N_FIELDS)
        & fld(1).rlike(d64) & fld(2).rlike(d64) & fld(3).rlike(d64)
        & fld(7).rlike(d32) & fld(10).rlike(d32)
        & fld(9).rlike(r"^(-?\d{1,9})?\z")
    )
    ok = F.coalesce(ok, F.lit(False))
    n_tok = F.when(ok, fld(10)).cast("int")
    pay = F.coalesce(fld(11), F.lit(""))
    ok = (
        ok
        & (F.length(pay) == n_tok.cast("long") * 8)
        & pay.rlike(r"^[0-9a-fA-F]*\z")
    )
    ok = F.coalesce(ok, F.lit(False))

    # int32-BE two's complement from each 8-hex-char group, in codegen
    word = F.expr(
        "transform(sequence(1, n_tok),"
        " i -> cast(conv(substring(pay, (i - 1) * 8 + 1, 8), 16, 10)"
        "      as bigint))"
    )
    tok = F.transform(
        word,
        lambda v: F.when(v >= 2**31, v - 2**32).otherwise(v).cast("int"),
    )

    def masked(i: int) -> F.Column:
        return F.when(ok, fld(i))

    out = df.select(
        F.col("raw").alias("__raw"), ok.alias("__ok"),
        masked(1).cast("long").alias("event_seq"),
        F.timestamp_seconds(masked(2).cast("long")).alias("commit_ts"),
        F.timestamp_seconds(masked(3).cast("long")).alias("create_ts"),
        masked(4).alias("op"),
        masked(5).alias("file_id"),
        masked(6).alias("source"),
        masked(7).cast("int").alias("bucket"),
        masked(8).alias("doc_id"),
        F.when(ok & (fld(9) != ""), fld(9)).cast("int").alias("sign"),
        F.when(ok, n_tok).alias("n_tok"),
        F.when(ok, pay).alias("pay"),
    )
    return out.select(
        "event_seq", "commit_ts", "create_ts", "op", "file_id", "source",
        "bucket", "doc_id", "sign", "n_tok",
        F.when(
            F.col("__ok") & (F.col("n_tok") > 0), tok
        )
        .when(F.col("__ok"), F.array().cast("array<int>"))
        .alias("tokens"),
        F.when(F.col("__ok"), F.lit("OK"))
        .otherwise(F.lit("PARSE_ERROR"))
        .alias("status"),
        F.when(~F.col("__ok"), F.col("__raw")).alias("raw"),
    )


def split_quarantine(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good rows without raw, quarantine rows keeping raw for forensics)."""
    good = parsed.filter(F.col("status") == "OK").drop("raw", "status")
    bad = parsed.filter(F.col("status") != "OK").select("status", "raw")
    return good, bad


def keyed_events(parsed: DataFrame) -> DataFrame:
    """Good rows of ``parsed`` with the routing key: the wire's (source,
    bucket) pair is the TABLE_MAP key (tableId analogue), ``table_key =
    source#bucket`` — the join key of ``enrich_routing``."""
    good, _ = split_quarantine(parsed)
    return good.withColumn(
        "table_key",
        F.concat_ws("#", F.col("source"), F.col("bucket").cast("string")),
    )
