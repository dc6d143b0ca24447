"""The three workloads: bulk_ingest, incremental_resume, verify_repair.

Each workload has the same steps:

- ``prepare``: generate the inputs from the seed, serialize them and
  register the oracle's expectations (repeatable; returns a digest of the
  serialized input, so repeats prove the inputs are a function of the seed);
- ``load``: any base load the timed part starts from;
- ``run_unit``: the timed operations, each returning its wall time, the
  change events it finished and whether its outputs matched the oracle
  (also run, untimed, to warm up: see ``WARMUP_WINDOW`` and run.py);
- ``end_to_end``: the workload's own end-to-end metrics;
- ``trace``: the per-layer run.

The program is driven only through its public functions; every timing is
taken from outside them.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import functions as F

import corpus
import oracle
from probes import SparkCounters, Tracer

from binlog_processer_spark.functions.parse import parse_raw, split_quarantine
from binlog_processer_spark.operators.aggregate import final_state
from binlog_processer_spark.operators.enrich import enrich_routing
from binlog_processer_spark.operators.repair import repair
from binlog_processer_spark.operators.route import route, sign_timeline
from binlog_processer_spark.operators.verify import reconcile
from binlog_processer_spark.plans.pipeline import run_pipeline
from binlog_processer_spark.storage.table import SnapshotTable

MB = 1024 * 1024


@dataclass
class OpResult:
    wall: float
    events: int
    ok: bool


class Ctx:
    """What every workload shares: the session, the run dir, the oracle."""

    def __init__(self, start_session, cores: int, run_dir: str, seed: int):
        self.start_session = start_session
        self.cores, self.run_dir, self.seed = cores, run_dir, seed
        self.routing = corpus.routing_table()
        self.con = oracle.connect(self.path("duckdb_tmp"))
        self.restart(cores)

    def restart(self, cores: int) -> None:
        """(Re)start the session at local[cores]."""
        self.spark = self.start_session(cores)
        self.routing_df = self.spark.createDataFrame(self.routing.to_pandas())
        self.counters = SparkCounters(self.spark)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def raw(self, raw_dir: str):
        return self.spark.read.parquet(raw_dir)

    def pipeline(self, raw_dir: str, wh: str):
        return run_pipeline(self.spark, self.raw(raw_dir), self.routing_df, wh,
                            resume=True)

    def sink_counts_ok(self, wh: str, survivors: str) -> bool:
        files = SnapshotTable(os.path.join(wh, "sink_counts")).data_files()
        return oracle.sink_count_mismatches(self.con, survivors, files) == 0

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()


def rng_for(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, workload))])


def with_table_key(df):
    # the wire's (source, bucket) is the routing key, as the pipeline builds it
    return df.withColumn(
        "table_key", F.concat_ws("#", F.col("source"), F.col("bucket").cast("string"))
    )


def routed_stats(wh: str, files_before: set[str] = frozenset()) -> dict:
    """Size profile of the routed table's data files added since
    ``files_before`` (all files when empty)."""
    sizes = SnapshotTable(os.path.join(wh, "routed")).file_sizes()
    new = [b for p, b in sizes.items() if p not in files_before]
    return {
        "table_bytes": sum(sizes.values()),
        "files": set(sizes),
        "new_bytes": sum(new),
        "new_files": len(new),
        "skew": max(new) / statistics.median(new) if new else 0.0,
    }


def pipeline_layers(tracer: Tracer, res, sp, stats: dict, new_events: int,
                    raw_dir: str, wh: str) -> dict[str, float]:
    """Per-layer numbers of one pipeline run (span ``sp``), from its own
    ``phase_sec``, the rows its file scans read and the committed table."""
    ph = res.metrics["phase_sec"]
    return {
        "storage.write_s": ph["route_write"],
        "storage.bytes_written_mb": stats["new_bytes"] / MB,
        "storage.files_per_commit": stats["new_files"],
        "storage.file_size_skew": stats["skew"],
        "resume.input_records_per_new_event":
            tracer.rows_scanned(sp, raw_dir) / max(new_events, 1),
        "aggregate.rollup_s": ph["rollup"],
        "aggregate.rows_scanned_per_new_row":
            tracer.rows_scanned(sp, os.path.join(wh, "routed"))
            / max(res.metrics["rows_routed"], 1),
        "pipeline.publish_s": ph["publish"],
        "pipeline.tail_s": sp.wall - sum(ph.values()),
    }


def spark_layers(cnt: dict, wall: float, cores: int) -> dict[str, float]:
    return {
        "pipeline.shuffle_mb": cnt["shuffle_write_bytes"] / MB,
        "pipeline.cpu_util": cnt["proc_cpu_s"] / (wall * cores),
        "pipeline.gc_s": cnt["jvm_gc_ms"] / 1000,
    }


def probe(ctx: Ctx, tracer: Tracer, name: str, build, repeats: int = 2):
    """Materialize ``build()`` — a fresh (DataFrame, observed metrics) pair —
    to a noop sink ``repeats`` times and keep the fastest: the first pass
    over a plan also pays for compiling its code. Returns (span, metrics)."""
    best = None
    for i in range(repeats):
        df, obs = build(f"{name}-{i}")
        with tracer.span(name, repeat=i) as sp:
            ctx.noop(df)
        if best is None or sp.wall < best[0].wall:
            best = (sp, obs)
    return best


def prefix_layers(ctx: Ctx, tracer: Tracer, raw_df, n_events: int,
                  keep_files: list[str] | None = None) -> dict[str, float]:
    """parse / enrich / route self times by materializing successive
    prefixes of the pipeline's chain to a noop sink. ``keep_files``
    restricts enrich and route to those input files, as the resume
    manifest does."""
    from pyspark.sql import Observation

    def good_rows(df):
        good, _ = split_quarantine(parse_raw(df))
        good = with_table_key(good)
        if keep_files is not None:
            good = good.filter(F.col("file_id").isin(*keep_files))
        return good

    def parsed(name):
        obs = Observation(name)
        return parse_raw(raw_df, with_metrics=True).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("status") == "OK").cast("long")).alias("ok"),
            F.percentile_approx("parse_batch_us", [0.5, 0.99]).alias("us"),
        ), obs

    def enriched(name):
        obs = Observation(name)
        df = enrich_routing(good_rows(raw_df), ctx.routing_df)
        return df.observe(obs, F.sum(F.col("ignored").cast("long")).alias("ignored")), obs

    def routed(name):
        # the soft-delete timeline from a sign-prefiltered sliver of the raw
        # lines, as the pipeline derives it
        sliver = raw_df.filter(
            F.split_part(F.col("raw"), F.lit("|"), F.lit(10)) != F.lit(""))
        timeline = sign_timeline(enrich_routing(good_rows(sliver), ctx.routing_df))
        df, _ = route(enrich_routing(good_rows(raw_df), ctx.routing_df),
                      cluster_for_write="rebalance", sign_timeline=timeline)
        obs = Observation(name)
        return df.observe(obs, F.count(F.lit(1)).alias("n")), obs

    sp_parse, o_parse = probe(ctx, tracer, "probe.parse", parsed)
    sp_enrich, o_enrich = probe(ctx, tracer, "probe.parse+enrich", enriched)
    sp_route, o_route = probe(ctx, tracer, "probe.parse+enrich+route", routed)
    p = o_parse.get
    return {
        "parse.self_s": sp_parse.wall,
        "parse.ok_ratio": p["ok"] / p["n"],
        "parse.batch_us_p50": float(p["us"][0]),
        "parse.batch_us_p99": float(p["us"][1]),
        "enrich.self_s": sp_enrich.wall - sp_parse.wall,
        "enrich.ignored_rows": int(o_enrich.get["ignored"] or 0),
        "route.self_s": sp_route.wall - sp_enrich.wall,
        "route.rows_per_event": o_route.get["n"] / n_events,
        "route.shuffle_write_mb": sp_route.counters["shuffle_write_bytes"] / MB,
    }


def replay_events(spark, wh: str):
    """The committed routed table read back as change records: the
    update tree (one row per routed event) and the columns a replay needs."""
    routed = SnapshotTable(os.path.join(wh, "routed")).read(spark)
    return routed.filter(F.col("tree") == "update").select(
        "database_name", "table_name", "doc_id", "op", "event_seq",
        "commit_ts", F.col("img_tokens").alias("tokens"),
    )


def scan_s(ctx: Ctx, tracer: Tracer, wh: str) -> float:
    sp, _ = probe(ctx, tracer, "probe.storage_scan",
                  lambda name: (replay_events(ctx.spark, wh), None))
    return sp.wall


NOT_RUN = {  # layers a workload does not exercise report 0
    "aggregate.final_state_s": 0.0,
    "verify.reconcile_s": 0.0,
    "verify.findings_ratio": 0.0,
    "repair.merge_s": 0.0,
    "pipeline.speedup_1_to_n": 0.0,
}


# -- bulk_ingest --------------------------------------------------------------

class BulkIngest:
    """Fresh warehouse loads of one corpus with long token payloads and
    0.5% truncated lines. One operation = one ``run_pipeline`` into an
    empty warehouse."""

    SHAPE = corpus.Shape(n_docs=5000, tok_lo=128, tok_hi=512, corrupt_rate=0.005)
    RAW_FILES = 8
    WARMUP_WINDOW = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_ops = 0

    def prepare(self) -> str:
        ctx = self.ctx
        rng = rng_for(ctx.seed, "bulk_ingest")
        doc_lo = int(rng.integers(1, 1000)) * 1_000_000
        events = corpus.generate(rng, doc_lo, self.SHAPE, "bulk", 40)
        self.raw_dir = ctx.path("bulk_raw")
        digest = corpus.write_raw(events, self.raw_dir, "bulk", self.RAW_FILES)
        self.n_events = events.num_rows
        self.n_corrupt = int(np.sum(events.column("corrupt").to_numpy()))
        oracle.register_survivors(ctx.con, "bulk_surv", events, ctx.routing,
                                  pa.array(np.zeros(events.num_rows, np.int32)))
        self.expected_routed = 2 * oracle.count(ctx.con, "SELECT * FROM bulk_surv")
        return digest

    def load(self) -> bool:
        """Nothing to load: every operation starts from an empty warehouse."""
        return True

    def op(self) -> OpResult:
        self.n_ops += 1
        self.wh = self.ctx.path(f"bulk_wh{self.n_ops}")
        t = time.perf_counter()
        res = self.ctx.pipeline(self.raw_dir, self.wh)
        wall = time.perf_counter() - t
        return OpResult(wall, self.n_events, self.check(res, self.wh))

    def run_unit(self) -> list[OpResult]:
        return [self.op()]

    def check(self, res, wh) -> bool:
        m = res.metrics
        return (m["rows_failed"] == self.n_corrupt
                and m["rows_routed"] == self.expected_routed
                and self.ctx.sink_counts_ok(wh, "bulk_surv"))

    def end_to_end(self) -> dict[str, float]:
        return {"stored_bytes_per_event":
                routed_stats(self.wh)["table_bytes"] / self.n_events}

    def trace(self, tracer: Tracer, untraced_wall: float) -> tuple[dict, bool]:
        ctx = self.ctx
        wh = ctx.path("bulk_traced")
        with tracer.span("pipeline.run_pipeline") as sp:
            res = ctx.pipeline(self.raw_dir, wh)
        ok = self.check(res, wh)
        layers = pipeline_layers(tracer, res, sp, routed_stats(wh), self.n_events,
                                 self.raw_dir, wh)
        layers.update(spark_layers(sp.counters, sp.wall, ctx.cores))
        layers["trace.overhead_ratio"] = sp.wall / untraced_wall
        layers.update(prefix_layers(ctx, tracer, ctx.raw(self.raw_dir), self.n_events))
        layers["storage.scan_s"] = scan_s(ctx, tracer, wh)
        layers.update(NOT_RUN)
        layers["pipeline.speedup_1_to_n"] = self.speedup(tracer)
        return layers, ok

    def speedup(self, tracer: Tracer) -> float:
        """Wall of a quarter of the corpus at local[1] over local[N]. Restarts
        the session, so it runs last."""
        ctx = self.ctx
        sub = ctx.path("bulk_quarter")
        os.makedirs(sub)
        for f in sorted(os.listdir(self.raw_dir))[: self.RAW_FILES // 4]:
            shutil.copy(os.path.join(self.raw_dir, f), sub)
        with tracer.span("speedup.local_n", cores=ctx.cores) as sp_n:
            ctx.pipeline(sub, ctx.path("bulk_speed_n"))
        ctx.restart(1)
        ctx.pipeline(sub, ctx.path("bulk_speed_warm"))
        with tracer.span("speedup.local_1", cores=1) as sp_1:
            ctx.pipeline(sub, ctx.path("bulk_speed_1"))
        return sp_1.wall / sp_n.wall


# -- incremental_resume -------------------------------------------------------

class IncrementalResume:
    """A base warehouse, then a fixed sequence of small clean increments.
    Each increment appends new files (new ``file_id``s) to the raw
    directory and is loaded by ``run_pipeline(resume=True)`` over the whole
    directory. One operation = one increment; one unit = the sequence."""

    BASE = corpus.Shape(n_docs=10000, tok_lo=1, tok_hi=32)
    INC = corpus.Shape(n_docs=1500, tok_lo=1, tok_hi=32)
    N_INC = 3
    INC_FILES = 8  # file_ids per increment
    WARMUP_WINDOW = None  # a unit consumes a base load: no warm-up units

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_bases = 0
        self.loaded = False
        self.last_walls: list[float] = []

    def prepare(self) -> str:
        ctx = self.ctx
        rng = rng_for(ctx.seed, "incremental_resume")
        doc_lo = int(rng.integers(1, 1000)) * 1_000_000
        tags = [f"{int(t):06x}" for t in rng.integers(0, 16**6, self.N_INC + 1)]
        self.base = corpus.generate(rng, doc_lo, self.BASE, f"base{tags[0]}", 16)
        self.incs = [
            corpus.generate(rng, doc_lo + self.BASE.n_docs + k * self.INC.n_docs,
                            self.INC, f"inc{k}{tags[k + 1]}", self.INC_FILES)
            for k in range(self.N_INC)
        ]
        self.last_files = [f"inc{self.N_INC - 1}{tags[-1]}-{j}"
                           for j in range(self.INC_FILES)]
        batches = [self.base, *self.incs]
        batch_no = np.repeat(np.arange(len(batches), dtype=np.int32),
                             [t.num_rows for t in batches])
        oracle.register_survivors(ctx.con, "inc_surv", pa.concat_tables(batches),
                                  ctx.routing, pa.array(batch_no))
        self.base_raw = ctx.path("inc_base_raw")
        return corpus.write_raw(self.base, self.base_raw, "base", 4)

    def load(self) -> bool:
        """Base load into a fresh warehouse; a sequence consumes it."""
        ctx = self.ctx
        self.n_bases += 1
        self.raw_dir = ctx.path(f"inc_raw{self.n_bases}")
        self.wh = ctx.path(f"inc_wh{self.n_bases}")
        shutil.copytree(self.base_raw, self.raw_dir)
        res = ctx.pipeline(self.raw_dir, self.wh)
        self.loaded = True
        return self.check(res, self.wh, 0)

    def check(self, res, wh, upto: int) -> bool:
        con = self.ctx.con
        new = oracle.count(con, f"SELECT * FROM inc_surv WHERE batch = {upto}")
        con.execute("CREATE OR REPLACE TEMP VIEW inc_sofar AS "
                    f"SELECT * FROM inc_surv WHERE batch <= {upto}")
        return (res.metrics["rows_failed"] == 0
                and res.metrics["rows_routed"] == 2 * new
                and self.ctx.sink_counts_ok(wh, "inc_sofar"))

    def run_unit(self, tracer: Tracer | None = None) -> list[OpResult]:
        """The increment sequence over a loaded base (loading a fresh one,
        untimed, when the last was consumed)."""
        ctx = self.ctx
        ok = True
        if not self.loaded:
            ok = self.load()
        self.loaded = False
        out, self.layer_rows = [], []
        for k, inc in enumerate(self.incs):
            corpus.write_raw(inc, self.raw_dir, f"inc{k}", 2)
            before = routed_stats(self.wh)["files"]
            with tracer.span("pipeline.run_pipeline", increment=k) if tracer \
                    else _Clock() as sp:
                res = ctx.pipeline(self.raw_dir, self.wh)
            if tracer:
                lay = pipeline_layers(tracer, res, sp, routed_stats(self.wh, before),
                                      inc.num_rows, self.raw_dir, self.wh)
                lay.update(spark_layers(sp.counters, sp.wall, ctx.cores))
                self.layer_rows.append(lay)
            ok_k = self.check(res, self.wh, k + 1) and ok
            out.append(OpResult(sp.wall, inc.num_rows, ok_k))
            ok = True
        self.last_walls.append(out[-1].wall)
        return out

    def end_to_end(self) -> dict[str, float]:
        loaded = self.base.num_rows + sum(t.num_rows for t in self.incs)
        return {
            "stored_bytes_per_event": routed_stats(self.wh)["table_bytes"] / loaded,
            "batch_s_last": statistics.median(self.last_walls),
        }

    def trace(self, tracer: Tracer, untraced_wall: float) -> tuple[dict, bool]:
        ctx = self.ctx
        ops = self.run_unit(tracer)
        rows = self.layer_rows
        layers = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        # growth with the table's history shows on the last increment
        for k in ("aggregate.rollup_s", "aggregate.rows_scanned_per_new_row",
                  "storage.file_size_skew"):
            layers[k] = rows[-1][k]
        layers["trace.overhead_ratio"] = sum(o.wall for o in ops) / untraced_wall
        layers.update(prefix_layers(ctx, tracer, ctx.raw(self.raw_dir),
                                    self.incs[-1].num_rows, keep_files=self.last_files))
        layers["storage.scan_s"] = scan_s(ctx, tracer, self.wh)
        layers.update(NOT_RUN)
        return layers, all(o.ok for o in ops)


# -- verify_repair ------------------------------------------------------------

class VerifyRepair:
    """Replay a pipeline-written routed table into final state, reconcile it
    against a replica with seeded divergences, repair it and write the
    repaired replica. One operation = one verify+repair round."""

    SHAPE = corpus.Shape(n_docs=40_000, tok_lo=1, tok_hi=16, max_events=4)
    DIVERGENCE = 0.01
    WARMUP_WINDOW = 8

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_ops = 0

    def prepare(self) -> str:
        ctx = self.ctx
        rng = rng_for(ctx.seed, "verify_repair")
        doc_lo = int(rng.integers(1, 1000)) * 1_000_000
        events = corpus.generate(rng, doc_lo, self.SHAPE, "vr", 64)
        self.raw_dir = ctx.path("vr_raw")
        digest = corpus.write_raw(events, self.raw_dir, "vr", 8)
        self.n_input = events.num_rows
        oracle.register_survivors(ctx.con, "vr_surv", events, ctx.routing,
                                  pa.array(np.zeros(events.num_rows, np.int32)))
        self.n_events = oracle.count(ctx.con, "SELECT * FROM vr_surv")
        self.replica_path = ctx.path("vr_replica.parquet")
        self.injected = oracle.build_replica(ctx.con, "vr_surv", ctx.seed,
                                             self.DIVERGENCE, self.replica_path)
        return digest

    def load(self) -> bool:
        """The pipeline writes the routed table the rounds read."""
        ctx = self.ctx
        self.wh = ctx.path("vr_wh")
        res = ctx.pipeline(self.raw_dir, self.wh)
        return (res.metrics["rows_routed"] == 2 * self.n_events
                and ctx.sink_counts_ok(self.wh, "vr_surv"))

    def op(self) -> OpResult:
        wall = self.round()
        return OpResult(wall, self.n_events, self.check())

    def round(self, tracer: Tracer | None = None) -> float:
        """The timed part of an operation: scan the committed routed table,
        final_state, reconcile, repair, write the repaired replica —
        persisting the final state and the findings as the repair job does.
        Returns its wall time."""
        ctx = self.ctx
        self.n_ops += 1
        self.out = SnapshotTable(ctx.path(f"vr_repaired{self.n_ops}"))
        replica = ctx.spark.read.parquet(self.replica_path)

        def span(name):
            return tracer.span(name) if tracer else _Clock()

        t = time.perf_counter()
        fs = final_state(replay_events(ctx.spark, self.wh)).persist(
            StorageLevel.MEMORY_AND_DISK)
        with span("aggregate.final_state") as self.sp_fs:
            if tracer:
                fs.count()
        with span("verify.reconcile") as self.sp_rec:
            findings = reconcile(None, replica, fs=fs).persist()
            self.found = findings.toArrow()
        with span("repair.merge") as self.sp_rep:
            self.out.write(repair(None, replica, findings, fs=fs))
        wall = time.perf_counter() - t
        findings.unpersist()
        fs.unpersist()
        return wall

    def check(self) -> bool:
        """The last round's findings and repaired replica against the oracle."""
        con = self.ctx.con
        return (oracle.findings_match(con, self.found)
                and oracle.repaired_matches_truth(con, self.out.data_files()))

    def run_unit(self) -> list[OpResult]:
        return [self.op()]

    def end_to_end(self) -> dict[str, float]:
        return {"stored_bytes_per_event":
                routed_stats(self.wh)["table_bytes"] / self.n_input}

    def trace(self, tracer: Tracer, untraced_wall: float) -> tuple[dict, bool]:
        ctx = self.ctx
        with tracer.span("verify_repair.op") as sp:
            self.round(tracer)
        ok = self.check()
        layers = spark_layers(sp.counters, sp.wall, ctx.cores)
        layers["trace.overhead_ratio"] = sp.wall / untraced_wall
        layers["storage.scan_s"] = scan_s(ctx, tracer, self.wh)
        sp_fs, _ = probe(ctx, tracer, "probe.storage_scan+final_state", lambda name: (
            final_state(replay_events(ctx.spark, self.wh)), None))
        layers["aggregate.final_state_s"] = sp_fs.wall - layers["storage.scan_s"]
        layers["verify.reconcile_s"] = self.sp_rec.wall
        layers["verify.findings_ratio"] = self.found.num_rows / sum(self.injected.values())
        layers["repair.merge_s"] = self.sp_rep.wall
        # the parse..publish layers ran in the set-up load: repeat it, traced
        wh = ctx.path("vr_traced_load")
        with tracer.span("pipeline.run_pipeline") as sp_load:
            load = ctx.pipeline(self.raw_dir, wh)
        layers.update(pipeline_layers(tracer, load, sp_load, routed_stats(wh),
                                      self.n_input, self.raw_dir, wh))
        layers.update(prefix_layers(ctx, tracer, ctx.raw(self.raw_dir), self.n_input))
        layers["pipeline.speedup_1_to_n"] = 0.0
        return layers, ok


class _Clock:
    """Stand-in for a span when tracing is off: wall time only."""

    def __enter__(self) -> "_Clock":
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.start


WORKLOADS = {
    "bulk_ingest": BulkIngest,
    "incremental_resume": IncrementalResume,
    "verify_repair": VerifyRepair,
}
