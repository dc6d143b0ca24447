"""DuckDB oracle over the structured corpus (before serialization).

The oracle restates the pipeline's contract in SQL, independently of the
program: routing join (J1), system-schema filter (P1), ignore list (P2),
soft-delete (P3: a Delete is dropped while the latest sign row at or before
it in the same sink says 1; sign rows count within one pipeline run's
input), and the dual create/update partition trees (S5). It also builds the
verify→repair replica from its own final state, with seeded divergences.

Program outputs are read back from the parquet files the program committed
(``SnapshotTable.data_files``), so checking costs no Spark job.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

SINK_KEY = "tree, db_instance, database_name, table_name, part_date"


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET TimeZone = 'UTC'; SET threads = 4; SET temp_directory = '{temp_dir}'")
    return con


def register_survivors(con, name: str, events: pa.Table, routing: pa.Table,
                       batches: pa.Array) -> None:
    """Create table ``name``: the events the pipeline must route, one row per
    event, with their sink attributes. ``batches`` gives each event's
    pipeline-run number (soft-delete flags do not cross runs)."""
    con.register("_ev", events.append_column("batch", batches))
    con.register("_routing", routing)
    con.execute(f"""
        CREATE OR REPLACE TABLE {name} AS
        WITH kept AS (
            SELECT e.*, r.db_instance, r.database_name, r.table_name
            FROM _ev e JOIN _routing r USING (table_key)
            WHERE NOT e.corrupt
              AND r.database_name NOT IN ('mysql', 'infra')
              AND NOT r.ignored
        ),
        signs AS (
            SELECT batch, database_name, table_name, event_seq AS sign_seq, sign
            FROM kept WHERE sign IS NOT NULL
        ),
        flagged AS (
            SELECT k.*, s.sign AS flag
            FROM kept k ASOF LEFT JOIN signs s
              ON k.batch = s.batch AND k.database_name = s.database_name
             AND k.table_name = s.table_name AND k.event_seq >= s.sign_seq
        )
        SELECT * EXCLUDE (flag) FROM flagged
        WHERE NOT (op = 'Delete' AND coalesce(flag, 0) = 1)
    """)
    con.unregister("_ev")
    con.unregister("_routing")


def expected_sink_counts_sql(survivors: str) -> str:
    day = "DATE '1970-01-01' + CAST({col} // 86400 AS INTEGER)"
    return f"""
        WITH trees AS (
            SELECT 'create' AS tree, db_instance, database_name, table_name,
                   {day.format(col='create_s')} AS part_date, op FROM {survivors}
            UNION ALL
            SELECT 'update', db_instance, database_name, table_name,
                   {day.format(col='commit_s')}, op FROM {survivors}
        )
        SELECT {SINK_KEY},
               count_if(op = 'Create') AS insert_cnt,
               count_if(op = 'Update') AS update_cnt,
               count_if(op = 'Delete') AS delete_cnt
        FROM trees GROUP BY ALL
    """


def sink_count_mismatches(con, survivors: str, files: list[str]) -> int:
    """Rows of the program's published ``sink_counts`` that differ from the
    oracle's, counting rows missing on either side."""
    if not files:
        return -1
    con.execute(f"CREATE OR REPLACE TEMP TABLE _exp AS {expected_sink_counts_sql(survivors)}")
    return con.execute(f"""
        SELECT count(*) FROM _exp e
        FULL OUTER JOIN read_parquet({files!r}) a USING ({SINK_KEY})
        WHERE e.insert_cnt IS DISTINCT FROM a.insert_cnt
           OR e.update_cnt IS DISTINCT FROM a.update_cnt
           OR e.delete_cnt IS DISTINCT FROM a.delete_cnt
    """).fetchone()[0]


def count(con, sql: str) -> int:
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


# -- verify → repair ---------------------------------------------------------

FINDING_KEYS = "database_name, table_name, doc_id"


def build_replica(con, survivors: str, seed: int, rate: float,
                  out_path: str) -> dict[str, int]:
    """Truth = the live final state; the replica written to ``out_path``
    is the truth with seeded divergences: missing creates (dropped rows),
    stale updates (older replica_ts) and ghost deletes (rows the log
    deleted). A key diverges when its seeded hash draw falls below
    ``rate``. Creates ``final`` and ``expected_findings``; returns the
    number of injected divergences per class."""
    con.execute(f"""
        CREATE OR REPLACE TABLE final AS
        SELECT {FINDING_KEYS},
               arg_max(op, event_seq) AS final_op,
               arg_max(commit_s, event_seq) AS final_s,
               arg_max(tokens, event_seq) AS final_tokens,
               hash({FINDING_KEYS}, {int(seed)}) % 1000000 < {int(rate * 1e6)} AS hit
        FROM {survivors} GROUP BY ALL
    """)
    con.execute(f"""
        CREATE OR REPLACE TABLE expected_findings AS
        SELECT {FINDING_KEYS},
               CASE final_op WHEN 'Create' THEN 'missing_create'
                             WHEN 'Update' THEN 'stale_update'
                             ELSE 'ghost_delete' END AS finding
        FROM final WHERE hit
    """)
    con.execute(f"""
        COPY (
            SELECT {FINDING_KEYS},
                   to_timestamp(final_s - CASE WHEN hit AND final_op = 'Update'
                                               THEN 120000 ELSE 0 END) AS replica_ts,
                   final_tokens AS replica_tokens
            FROM final
            WHERE (final_op <> 'Delete' AND NOT (hit AND final_op = 'Create'))
               OR (final_op = 'Delete' AND hit)
        ) TO '{out_path}' (FORMAT PARQUET)
    """)
    return dict(con.execute(
        "SELECT finding, count(*) FROM expected_findings GROUP BY ALL"
    ).fetchall())


def findings_match(con, findings: pa.Table) -> bool:
    con.register("_found", findings)
    cols = f"{FINDING_KEYS}, finding"
    bad = count(con, f"""
        (SELECT {cols} FROM expected_findings EXCEPT SELECT {cols} FROM _found)
        UNION ALL
        (SELECT {cols} FROM _found EXCEPT SELECT {cols} FROM expected_findings)
    """)
    dup = count(con, "SELECT * FROM _found") - count(con, "SELECT * FROM expected_findings")
    con.unregister("_found")
    return bad == 0 and dup == 0


def _replica_hash_sql(src: str, ts: str) -> str:
    return f"""
        SELECT count(*) AS n,
               sum(hash(database_name, table_name, doc_id, {ts},
                        CAST(replica_tokens AS INTEGER[]))::HUGEINT) AS h
        FROM {src}
    """


def repaired_matches_truth(con, files: list[str]) -> bool:
    truth = con.execute(_replica_hash_sql(
        "(SELECT *, final_s AS ts, final_tokens AS replica_tokens FROM final "
        "WHERE final_op <> 'Delete')", "ts")).fetchone()
    got = con.execute(_replica_hash_sql(
        f"read_parquet({files!r})", "CAST(epoch(replica_ts) AS BIGINT)")).fetchone()
    return truth == got
