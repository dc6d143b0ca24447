"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (binlog_processer_spark.*)
over the deterministic CDC corpus derived from the driver's ``documents``
table (binlog_processer_spark/corpus.py); the matching ``oracle_sql()`` entry
re-derives the same corpus and the operator's semantics in DuckDB SQL. The
corpus derivation is dialect-templated so both engines consume byte-identical
inputs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binlog_processer_spark.corpus import corpus_spark_df
from binlog_processer_spark.functions.parse import (
    corrupt_expr,
    keyed_events,
    parse_raw,
    serialize_expr,
    split_quarantine,
)
from binlog_processer_spark.operators import aggregate as agg
from binlog_processer_spark.operators.enrich import enrich_routing, enrich_schema_asof
from binlog_processer_spark.operators.repair import repair
from binlog_processer_spark.operators.resume import remaining_events
from binlog_processer_spark.operators.route import (
    apply_soft_delete,
    fan_out_trees,
    filter_system_schemas,
    route,
    split_ignored,
    with_envelope,
)
from binlog_processer_spark.functions.text import (
    fingerprints,
    lang_id,
    quality_scores,
    token_count_cols,
)
from binlog_processer_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_block_pairs,
    simhash_signatures,
)
from binlog_processer_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    near_dup_pairs,
)
from binlog_processer_spark.operators.skew import salted_sink_counts
from binlog_processer_spark.operators.verify import reconcile

# ---------------------------------------------------------------------------
# Spark-side building blocks
# ---------------------------------------------------------------------------

ROUTING_COLS = [
    "table_key",
    "db_instance",
    "database_sharded",
    "database_name",
    "table_name",
    "route",
    "ignored",
]


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_spark_df(spark, sf_dir, "SELECT * FROM corpus")


def _routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_spark_df(
        spark, sf_dir, f"SELECT {', '.join(ROUTING_COLS)} FROM routing"
    )


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_routing(_corpus(spark, sf_dir), _routing(spark, sf_dir))


def _kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept, _ = split_ignored(filter_system_schemas(_enriched(spark, sf_dir)))
    return kept


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed, _ = route(_enriched(spark, sf_dir))
    return routed


def _final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.final_state(_kept(spark, sf_dir))


def _md5_arr(col: str) -> F.Column:
    """Deterministic scalar digest of an int/float array column, mirrored
    exactly by the DuckDB ``_duck_md5_arr`` expression — the driver's canon
    sorts/hashes scalar values and cannot hash raw arrays."""
    return F.expr(f"md5(concat_ws(',', transform({col}, x -> cast(x as string))))")


def _duck_md5_arr(col: str) -> str:
    return f"md5(array_to_string(list_transform({col}, x -> cast(x as varchar)), ','))"


# deterministic PII tail appended to every document for text_pii_scrub —
# written in the SQL subset both Spark and DuckDB parse identically, so
# the SAME string builds the Spark input and the oracle input
_PII_INJECT_SQL = (
    "concat(text, ' contact user', cast(doc_id as string),"
    " '@example.com via 10.', cast(doc_id % 200 as string), '.0.',"
    " cast(doc_id % 250 as string),"
    " case when doc_id % 3 = 0 then concat(' call +1-555-',"
    " lpad(cast(doc_id % 10000 as string), 4, '0')) else '' end)"
)


def _replica_from_fs(fs: DataFrame, mutated: bool) -> DataFrame:
    """Replica of the downstream store (TiDB/Hive analogue) derived from the
    corpus final state; ``mutated`` injects deterministic discrepancies:
    doc_num%37==5 missing, %41==7 stale (-2000min), %43==9 ghost-delete."""
    fs = fs.withColumn("doc_num", F.col("doc_id").cast("bigint"))
    live = fs.filter(F.col("final_op") != "Delete")
    if mutated:
        live = live.filter(F.col("doc_num") % 37 != 5)
        # stale injection only on final-op=Update rows: Creates are compared
        # by existence only (TiDBCompareByFile.java:193-229), so a stale
        # Create would never be flagged nor repaired
        live = live.withColumn(
            "replica_ts",
            F.when(
                (F.col("doc_num") % 41 == 7) & (F.col("final_op") == "Update"),
                F.col("final_ts") - F.expr("make_interval(0,0,0,0,0,2000,0)"),
            ).otherwise(F.col("final_ts")),
        )
        ghosts = (
            fs.filter((F.col("final_op") == "Delete") & (F.col("doc_num") % 43 == 9))
            .withColumn("replica_ts", F.col("final_ts"))
        )
        live = live.unionByName(ghosts)
    else:
        live = live.withColumn("replica_ts", F.col("final_ts"))
    return live.select(
        "database_name", "table_name", "doc_id", "replica_ts",
        F.col("final_tokens").alias("replica_tokens"),
    )


def _replica(spark: SparkSession, sf_dir: str, mutated: bool) -> DataFrame:
    return _replica_from_fs(_final_state(spark, sf_dir), mutated)


# ---------------------------------------------------------------------------
# DuckDB oracle building blocks (same semantics, DuckDB dialect)
# ---------------------------------------------------------------------------

_X_ENRICHED = """
enriched AS (
  SELECT c.*, r.db_instance, r.database_sharded, r.database_name,
         r.table_name, r.route, r.ignored
  FROM corpus c JOIN routing r USING (table_key)),
kept AS (SELECT * FROM enriched
         WHERE NOT ignored AND database_name NOT IN ('mysql', 'infra')),
survivors AS (
  SELECT * EXCLUDE (archive_flag) FROM (
    SELECT k.*,
           last_value(sign IGNORE NULLS) OVER (
             PARTITION BY database_name, table_name ORDER BY event_seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS archive_flag
    FROM kept k) t
  WHERE NOT (op = 'Delete' AND coalesce(archive_flag, 0) = 1)),
routed AS (
  SELECT s.*, t.tree,
         CASE WHEN t.tree = 'create' THEN cast(create_ts AS date)
              ELSE cast(commit_ts AS date) END AS part_date
  FROM survivors s CROSS JOIN (VALUES ('create'), ('update')) t(tree))
"""

_X_FINAL_STATE = """
final_state AS (
  SELECT database_name, table_name, doc_id,
         arg_max(op, event_seq) AS final_op,
         arg_max(commit_ts, event_seq) AS final_ts,
         arg_max(tokens, event_seq) AS final_tokens,
         max(event_seq) AS final_seq
  FROM kept GROUP BY 1, 2, 3)
"""

_X_REPLICA_MUTATED = """
replica AS (
  SELECT database_name, table_name, doc_id,
         CASE WHEN cast(doc_id AS bigint) % 41 = 7 AND final_op = 'Update'
              THEN final_ts - to_minutes(2000) ELSE final_ts END AS replica_ts
  FROM final_state
  WHERE final_op <> 'Delete' AND cast(doc_id AS bigint) % 37 <> 5
  UNION ALL
  SELECT database_name, table_name, doc_id, final_ts AS replica_ts
  FROM final_state
  WHERE final_op = 'Delete' AND cast(doc_id AS bigint) % 43 = 9)
"""


def _oracle_full(select: str, extra_ctes: str = "") -> str:
    from binlog_processer_spark.corpus import corpus_ctes

    ctes = corpus_ctes("duckdb")
    extra = ("," + extra_ctes.strip().rstrip(",")) if extra_ctes.strip() else ""
    return f"WITH {ctes}{extra} {select}"


# ---------------------------------------------------------------------------
# BPE trainer oracle (generated chained-CTE merge loop, DuckDB dialect)
#
# The driver-side merge loop in operators/bpe.py is a pure integer
# function of the capped (word, count) table, so DuckDB can replay it
# exactly: one CTE round per merge — recount adjacent pairs, take the
# (count DESC, pair ASC) argmax, apply the merge with a plain substring
# replace. Words are encoded as chr(31)-delimited symbol strings
# ("\x1f sym \x1f\x1f sym \x1f"): every adjacent pair occupies a
# disjoint "\x1f a \x1f\x1f b \x1f" span, so DuckDB's left-to-right
# non-overlapping replace() IS bpe._merge_word (runs of the same symbol
# merge pairwise exactly as the Python scan does, and no pattern can
# match inside a symbol or across a wrong boundary because symbols never
# contain \x1f — the corpus is whitespace-split words). MATERIALIZED is
# load-bearing: each seg_k is referenced twice (pair counts + next seg)
# and inlining would expand the 64-round chain exponentially.
# ---------------------------------------------------------------------------

_BPE_U = "chr(31)"  # symbol delimiter (unit separator; never in a word)
_BPE_UU = "chr(31) || chr(31)"


def _bpe_word_counts_sql(min_count: int, max_words: int) -> str:
    """DuckDB twin of bpe.word_counts + the trainer's deterministic cap
    (cnt DESC, word total order, TakeOrderedAndProject head)."""
    return (
        "SELECT word, cast(count(*) AS bigint) AS cnt"
        " FROM (SELECT unnest(str_split_regex(trim(text), '\\s+')) AS word"
        "       FROM documents WHERE text IS NOT NULL)"
        " WHERE length(word) > 0"
        f" GROUP BY word HAVING count(*) >= {min_count}"
        f" ORDER BY cnt DESC, word LIMIT {max_words}"
    )


def _bpe_seg_expr(chars_col: str) -> str:
    """Initial segmentation of a split-to-chars list: chars, with the
    end-of-word marker fused onto the last char (bpe._symbols)."""
    c = chars_col
    return (
        f"{_BPE_U} || array_to_string(list_concat("
        f"{c}[1:len({c})-1], [{c}[len({c})] || '</w>']), {_BPE_UU})"
        f" || {_BPE_U}"
    )


def _bpe_train_ctes(num_merges: int, min_count: int, max_words: int) -> list:
    """CTE list replaying train_on_counts: wc, seg0, then per merge k a
    (pair-count, argmax, apply) triple. b_k going empty (no pair left)
    is the trainer's break: the LEFT JOIN keeps seg rows unchanged and
    every later b_j stays empty too."""
    ctes = [
        f"wc AS MATERIALIZED ({_bpe_word_counts_sql(min_count, max_words)})",
        "seg0 AS MATERIALIZED (SELECT "
        + _bpe_seg_expr("chars")
        + " AS s, cnt FROM (SELECT str_split(word, '') AS chars, cnt FROM wc))",
    ]
    for k in range(num_merges):
        ctes.append(
            f"p{k} AS ("
            " SELECT syms[i] AS a, syms[i+1] AS b,"
            " cast(sum(cnt) AS bigint) AS c"
            " FROM (SELECT str_split(substr(s, 2, length(s)-2),"
            f" {_BPE_UU}) AS syms, cnt FROM seg{k}),"
            " unnest(generate_series(1, len(syms)-1)) t(i)"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{k} AS MATERIALIZED (SELECT {k} AS rank, a, b, c FROM p{k}"
            " WHERE c >= 1 ORDER BY c DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"seg{k+1} AS MATERIALIZED ("
            " SELECT CASE WHEN b.a IS NULL THEN s ELSE replace(s,"
            f" {_BPE_U} || b.a || {_BPE_UU} || b.b || {_BPE_U},"
            f" {_BPE_U} || b.a || b.b || {_BPE_U}) END AS s, cnt"
            f" FROM seg{k} LEFT JOIN b{k} b ON true)"
        )
    return ctes


def _bpe_merges_oracle(
    num_merges: int = 64, min_count: int = 2, max_words: int = 65536
) -> str:
    """Full oracle for token_bpe_merges: the learned merge table."""
    ctes = _bpe_train_ctes(num_merges, min_count, max_words)
    union = " UNION ALL ".join(f"SELECT * FROM b{k}" for k in range(num_merges))
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT rank, a AS \"left\","
        " b AS \"right\", c AS freq FROM (" + union + ") ORDER BY rank"
    )


def _bpe_encode_stats_oracle(
    num_merges: int = 64, min_count: int = 2, max_words: int = 65536
) -> str:
    """Full oracle for token_bpe_encode_stats.

    Re-learns the merges (same CTE chain), then encodes every DISTINCT
    corpus word by applying the merges in rank order — sequential
    rank-order application equals bpe.BpeModel.encode_word's greedy
    lowest-rank loop because a merge learned at rank r can only create
    pairs whose own merge rank is > r (the pair could not have been
    counted before its parts existed). Per-document stats then join the
    word→piece-count table back to the exploded words.
    """
    ctes = _bpe_train_ctes(num_merges, min_count, max_words)
    ctes.append(
        "allw AS MATERIALIZED ("
        " SELECT doc_id, source, word FROM ("
        "  SELECT doc_id, source,"
        "  unnest(str_split_regex(trim(coalesce(text, '')), '\\s+')) AS word"
        "  FROM documents)"
        " WHERE length(word) > 0)"
    )
    ctes.append(
        "e0 AS MATERIALIZED (SELECT word, "
        + _bpe_seg_expr("chars")
        + " AS s FROM (SELECT word, str_split(word, '') AS chars"
        " FROM (SELECT DISTINCT word FROM allw)))"
    )
    for k in range(num_merges):
        ctes.append(
            f"e{k+1} AS MATERIALIZED ("
            " SELECT word, CASE WHEN b.a IS NULL THEN s ELSE replace(s,"
            f" {_BPE_U} || b.a || {_BPE_UU} || b.b || {_BPE_U},"
            f" {_BPE_U} || b.a || b.b || {_BPE_U}) END AS s"
            f" FROM e{k} LEFT JOIN b{k} b ON true)"
        )
    ctes.append(
        "wp AS MATERIALIZED (SELECT word,"
        " cast(len(str_split(substr(s, 2, length(s)-2),"
        f" {_BPE_UU})) AS bigint) AS wpieces FROM e{num_merges})"
    )
    ctes.append(
        "perdoc AS ("
        " SELECT doc_id, source, cast(count(*) AS bigint) AS dwords,"
        " cast(sum(wpieces) AS bigint) AS dpieces"
        " FROM allw JOIN wp USING (word) GROUP BY 1, 2)"
    )
    ctes.append(
        "perstats AS ("
        " SELECT d.source, cast(count(*) AS bigint) AS docs,"
        " cast(sum(coalesce(p.dwords, 0)) AS bigint) AS words,"
        " cast(sum(coalesce(p.dpieces, 0)) AS bigint) AS pieces,"
        " cast(sum(coalesce(length(d.text), 0)) AS bigint) AS chars"
        " FROM documents d LEFT JOIN perdoc p USING (doc_id, source)"
        " GROUP BY 1)"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT source, docs, words, pieces,"
        " chars,"
        " cast(floor(pieces * 1000000 / words) AS bigint)"
        " AS pieces_per_word_ppm,"
        " cast(floor(chars * 1000000 / pieces) AS bigint)"
        " AS chars_per_piece_ppm"
        " FROM perstats ORDER BY source"
    )


# ---------------------------------------------------------------------------
# Unigram-LM oracle builders (operators/unigram.py's relational stages)
# ---------------------------------------------------------------------------


def _unigram_seed_ctes(
    seed_size: int, max_piece_len: int, min_count: int, max_words: int
) -> list:
    """CTEs producing the seed inventory (unigram.seed_pieces_df twin):
    substring explode of the capped word table, score = sum(cnt * len),
    all single chars kept + top (seed_size - n_chars) multi pieces on
    the (score DESC, piece ASC) total order."""
    return [
        f"wc AS MATERIALIZED ({_bpe_word_counts_sql(min_count, max_words)})",
        "subs AS MATERIALIZED ("
        " SELECT piece, cast(sum(cnt * length(piece)) AS bigint) AS score"
        " FROM (SELECT substr(word, i, n) AS piece, cnt FROM wc,"
        "   unnest(generate_series(1, length(word))) t(i),"
        f"   unnest(generate_series(1, least({int(max_piece_len)},"
        "    length(word) - i + 1))) u(n))"
        " GROUP BY piece)",
        "nch AS (SELECT count(*) AS n_chars FROM subs"
        " WHERE length(piece) = 1)",
        "ranked AS ("
        " SELECT piece, cast(length(piece) AS int) AS plen, score,"
        " CASE WHEN length(piece) > 1 THEN row_number() OVER ("
        "  PARTITION BY length(piece) > 1 ORDER BY score DESC, piece)"
        " END AS rn FROM subs)",
        "seedkept AS MATERIALIZED ("
        " SELECT piece, plen, score FROM ranked, nch"
        f" WHERE plen = 1 OR rn <= greatest({int(seed_size)} - n_chars, 0))",
    ]


def _unigram_seed_oracle(
    seed_size: int = 512,
    max_piece_len: int = 8,
    min_count: int = 2,
    max_words: int = 65536,
) -> str:
    ctes = _unigram_seed_ctes(seed_size, max_piece_len, min_count, max_words)
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT piece, plen, score,"
        " cast(CASE WHEN plen = 1 THEN 1 ELSE 0 END AS int) AS is_char"
        " FROM seedkept"
    )


def _unigram_viterbi_stats_oracle(
    seed_size: int = 512,
    max_piece_len: int = 8,
    min_count: int = 2,
    max_words: int = 65536,
    max_word_len: int = 32,
    unk_un: int = -20_000_000,
) -> str:
    """Oracle for token_unigram_viterbi_stats: quantized seed model
    (integer micro-nat log-probs), then a chained-CTE dynamic program —
    one round per prefix position, lookback ``max_piece_len`` — that
    replays unigram._viterbi_pieces_int exactly (integer weights, tie
    toward fewer pieces; the row_number pick among full (score, pieces)
    ties is value-identical, so the piece COUNT is deterministic)."""
    L = int(max_piece_len)
    P = int(max_word_len)
    ctes = _unigram_seed_ctes(seed_size, L, min_count, max_words)
    ctes.append(
        "model AS MATERIALIZED ("
        " SELECT piece, cast(round((ln(score) - ln(total)) * 1000000)"
        " AS bigint) AS lp_un"
        " FROM (SELECT piece, score,"
        "  cast(sum(score) OVER () AS bigint) AS total FROM seedkept))"
    )
    ctes.append(
        "allw AS MATERIALIZED ("
        " SELECT doc_id, source, word FROM ("
        "  SELECT doc_id, source,"
        "  unnest(str_split_regex(trim(coalesce(text, '')), '\\s+')) AS word"
        "  FROM documents)"
        " WHERE length(word) > 0)"
    )
    ctes.append(
        "acc0 AS (SELECT word, 0 AS pos, cast(0 AS bigint) AS sc, 0 AS np"
        " FROM (SELECT DISTINCT word FROM allw))"
    )
    for i in range(1, P + 1):
        ctes.append(
            f"n{i} AS MATERIALIZED ("
            " SELECT word, sc, np FROM ("
            "  SELECT word, sc, np, row_number() OVER ("
            "   PARTITION BY word ORDER BY sc DESC, np ASC) AS rn"
            "  FROM ("
            "   SELECT a.word, a.sc + w AS sc, a.np + 1 AS np, w FROM ("
            "    SELECT a0.word, a0.sc, a0.np, coalesce(m.lp_un,"
            f"     CASE WHEN {i} - a0.pos = 1 THEN {int(unk_un)} END) AS w"
            f"    FROM acc{i-1} a0 LEFT JOIN model m"
            f"     ON m.piece = substr(a0.word, a0.pos + 1, {i} - a0.pos)"
            f"    WHERE a0.pos >= {i - L} AND a0.pos < {i}"
            f"     AND length(a0.word) >= {i}) a"
            "   WHERE w IS NOT NULL))"
            " WHERE rn = 1)"
        )
        ctes.append(
            f"acc{i} AS MATERIALIZED (SELECT * FROM acc{i-1} UNION ALL"
            f" SELECT word, {i} AS pos, sc, np FROM n{i})"
        )
    ctes.append(
        f"wp AS MATERIALIZED (SELECT word, cast(np AS bigint) AS wpieces"
        f" FROM acc{P} WHERE pos = length(word))"
    )
    ctes.append(
        "perdoc AS ("
        " SELECT doc_id, source, cast(count(*) AS bigint) AS dwords,"
        " cast(sum(wpieces) AS bigint) AS dpieces"
        " FROM allw JOIN wp USING (word) GROUP BY 1, 2)"
    )
    ctes.append(
        "perstats AS ("
        " SELECT d.source, cast(count(*) AS bigint) AS docs,"
        " cast(sum(coalesce(p.dwords, 0)) AS bigint) AS words,"
        " cast(sum(coalesce(p.dpieces, 0)) AS bigint) AS pieces,"
        " cast(sum(coalesce(length(d.text), 0)) AS bigint) AS chars"
        " FROM documents d LEFT JOIN perdoc p USING (doc_id, source)"
        " GROUP BY 1)"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT source, docs, words, pieces,"
        " chars,"
        " cast(floor(pieces * 1000000 / words) AS bigint)"
        " AS pieces_per_word_ppm,"
        " cast(floor(chars * 1000000 / pieces) AS bigint)"
        " AS chars_per_piece_ppm"
        " FROM perstats ORDER BY source"
    )


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route→aggregate on sf0.001 (SURVEY §3.1)."""
    sf_dir = "/root/testdata/sf0.001"
    c = _corpus(spark, sf_dir)
    raw = c.select(
        corrupt_expr(serialize_expr(), F.col("doc_num"), F.col("r")).alias("raw")
    )
    enriched = enrich_routing(
        keyed_events(parse_raw(raw)), _routing(spark, sf_dir)
    )
    kept, _ign = split_ignored(filter_system_schemas(enriched))
    kept = apply_soft_delete(kept)
    routed = fan_out_trees(with_envelope(kept))
    return agg.sink_counts(routed)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- S1/S2 + UDF surface: vectorized parse ---
    def parse_roundtrip(spark, sf_dir):
        c = _corpus(spark, sf_dir)
        raw = c.select(
            corrupt_expr(serialize_expr(), F.col("doc_num"), F.col("r")).alias("raw")
        )
        good, _ = split_quarantine(parse_raw(raw))
        # tokens surface as (size, md5 digest): the driver canon hashes scalar
        # values; the digest keeps the exact-token-equality invariant testable
        return good.select(
            "doc_id", "source", "op", "event_seq", "commit_ts", "file_id",
            "bucket", "n_tok", _md5_arr("tokens").alias("tokens_md5"),
        )

    q["parse_roundtrip"] = parse_roundtrip

    def parse_regex_roundtrip(spark, sf_dir):
        # the zero-Python grok/regex parse path; same oracle as the
        # Arrow path — each vectorized parse checks the other
        from binlog_processer_spark.functions.parse import parse_raw_sql

        c = _corpus(spark, sf_dir)
        raw = c.select(
            corrupt_expr(serialize_expr(), F.col("doc_num"), F.col("r")).alias("raw")
        )
        good, _ = split_quarantine(parse_raw_sql(raw))
        return good.select(
            "doc_id", "source", "op", "event_seq", "commit_ts", "file_id",
            "bucket", "n_tok", _md5_arr("tokens").alias("tokens_md5"),
        )

    q["parse_regex_roundtrip"] = parse_regex_roundtrip

    def quarantine_counts(spark, sf_dir):
        c = _corpus(spark, sf_dir)
        raw = c.select(
            corrupt_expr(serialize_expr(), F.col("doc_num"), F.col("r")).alias("raw")
        )
        _, bad = split_quarantine(parse_raw(raw))
        return bad.groupBy("status").agg(F.count("*").alias("cnt"))

    q["quarantine_counts"] = quarantine_counts

    # --- J1 broadcast enrich ---
    def routing_enrich(spark, sf_dir):
        return _enriched(spark, sf_dir).select(
            "doc_id", "event_seq", "op", "db_instance", "database_name",
            "table_name", "route", "ignored",
        )

    q["routing_enrich"] = routing_enrich

    # --- J2 as-of schema lookup ---
    def schema_asof(spark, sf_dir):
        events = _corpus(spark, sf_dir)
        schema_dim = corpus_spark_df(
            spark, sf_dir,
            "SELECT table_key, valid_from_ts, schema_fingerprint FROM schema_dim",
        )
        return enrich_schema_asof(events, schema_dim).select(
            "doc_id", "event_seq", "table_key", "schema_fingerprint"
        )

    q["schema_asof"] = schema_asof

    # --- §2.8 schema-evolution widening through the as-of lookup ---
    def schema_evolution(spark, sf_dir):
        """v2+ records route through widen_types (int→long, float→double,
        SchemaConverter.java:14-74); v1 records are reader-upcast to the
        evolved output schema — one table, one (widened) schema out."""
        from binlog_processer_spark.functions.compat import widen_types

        events = _corpus(spark, sf_dir).select(
            "doc_id", "event_seq", "commit_ts", "table_key", "n_tok",
            # exact small integers: float32→float64 widening is lossless,
            # so Spark and DuckDB agree bit-for-bit
            F.expr("cast((doc_num*13 + r) % 997 as float)").alias("score"),
        )
        schema_dim = corpus_spark_df(
            spark, sf_dir,
            "SELECT table_key, valid_from_ts, schema_fingerprint FROM schema_dim",
        )
        asof = enrich_schema_asof(events, schema_dim).select(
            "doc_id", "event_seq", "schema_fingerprint", "n_tok", "score"
        )
        v2plus = widen_types(
            asof.filter(F.col("schema_fingerprint") >= "fp_v2")
        )
        v1 = asof.filter(F.col("schema_fingerprint") < "fp_v2").select(
            "doc_id",
            "event_seq",
            "schema_fingerprint",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.col("score").cast("double").alias("score"),
        )
        return v1.unionByName(v2plus)

    q["schema_evolution"] = schema_evolution

    # --- storage-level schema migration (metadata-only widening) ---
    def schema_migration(spark, sf_dir):
        """v1 generation written as (int, float); the table's schema is then
        widened METADATA-ONLY (storage.table.migrate_schema — no data file
        touched) and a v2 generation appended with an extra column. One
        read serves both generations under the evolved schema: v1 rows
        scan-time-widened and null-filled (SchemaConverter.java:14-74
        promotions, done by the reader instead of a rewrite)."""
        import os
        import tempfile

        from pyspark.sql import types as T

        from binlog_processer_spark.storage.table import SnapshotTable

        t = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix="blp_migrate_"), "t")
        )
        base = _corpus(spark, sf_dir).select(
            "doc_id", "event_seq",
            F.col("n_tok").cast("int").alias("n_tok"),
            # exact small integers: float32→float64 widening is lossless
            F.expr("cast((doc_num*13 + r) % 997 as float)").alias("score"),
        )
        t.write(base.filter(F.col("event_seq") % 2 == 0))
        target = T.StructType(
            [
                T.StructField("doc_id", T.StringType()),
                T.StructField("event_seq", T.LongType()),
                T.StructField("n_tok", T.LongType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("note", T.StringType(), nullable=True),
            ]
        )
        t.migrate_schema(target)
        v2 = base.filter(F.col("event_seq") % 2 == 1).select(
            "doc_id", "event_seq",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.col("score").cast("double").alias("score"),
            F.concat(F.lit("v2-"), F.col("doc_id")).alias("note"),
        )
        t.write(v2, mode="append")
        return t.read(spark)

    q["schema_migration"] = schema_migration

    # --- P2 ignore filter side-output (A3) ---
    def ignored_counts(spark, sf_dir):
        _, ign = split_ignored(_enriched(spark, sf_dir))
        return ign

    q["ignored_counts"] = ignored_counts

    # --- P3 soft-delete window ---
    def soft_delete(spark, sf_dir):
        return apply_soft_delete(_kept(spark, sf_dir)).select(
            "database_name", "table_name", "event_seq", "op"
        )

    q["soft_delete"] = soft_delete

    # --- P4 envelope / image selection ---
    def image_selection(spark, sf_dir):
        env = with_envelope(_kept(spark, sf_dir))
        return env.select(
            "doc_id", "event_seq", "op",
            F.col("img.doc_id").alias("img_doc_id"),
            F.col("img.n_tok").alias("img_n_tok"),
            _md5_arr("img.tokens").alias("img_tokens_md5"),
            F.col("before").isNull().alias("before_is_null"),
            F.col("after").isNull().alias("after_is_null"),
        )

    q["image_selection"] = image_selection

    # date columns are a canon hazard too (Spark DATE → python date objects,
    # DuckDB DATE → datetime64); timestamps proved hash-stable in round 1
    # (watermarks), so sink keys surface part_date as a timestamp
    def _ts_part_date(df):
        return df.withColumn("part_date", F.col("part_date").cast("timestamp"))

    # --- A1 per-sink counts (THE primary aggregate) ---
    def sink_counts(spark, sf_dir):
        return _ts_part_date(agg.sink_counts(_routed(spark, sf_dir)))

    q["sink_counts"] = sink_counts

    # --- A1 under salting (same result, skew-safe shuffle) ---
    def sink_counts_salted(spark, sf_dir):
        return _ts_part_date(
            salted_sink_counts(
                _routed(spark, sf_dir),
                ["tree", "db_instance", "database_name", "table_name", "part_date"],
            )
        )

    q["sink_counts_salted"] = sink_counts_salted

    # --- small-file compaction (Iceberg rewriteDataFiles analogue) ---
    # fragment the routed output across three append snapshots (the
    # reference sink's file-per-run pattern, PartitionWriterManager.java:
    # 60-96), bin-pack it back with operators.compact, and prove the merged
    # table still answers THE primary aggregate bit-for-bit
    def compact_roundtrip(spark, sf_dir):
        import os
        import tempfile

        from binlog_processer_spark.operators.compact import compact
        from binlog_processer_spark.storage.table import SnapshotTable

        tbl = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix="blp_compact_"), "routed")
        )
        routed = _routed(spark, sf_dir).select(
            "tree", "db_instance", "database_name", "table_name",
            "part_date", "op", "event_seq",
        )
        for i in range(3):
            tbl.write(
                routed.filter(F.col("event_seq") % 3 == i),
                partition_by=["tree", "part_date"],
                mode="overwrite" if i == 0 else "append",
            )
        res = compact(spark, tbl)
        assert res.groups, "fragmented table must yield a compaction plan"
        return _ts_part_date(agg.sink_counts(tbl.read(spark)))

    q["compact_roundtrip"] = compact_roundtrip

    # --- run-health report (reference: t_binlog_process_report +
    # Prometheus counters, DBbiz.java:133-156 / PrometheusMetrics.java:
    # 11-28): run the REAL pipeline, read back <wh>/process_report, and
    # publish its corpus-deterministic counter slice ---
    def process_report(spark, sf_dir):
        import tempfile

        from binlog_processer_spark.operators.report import (
            deterministic_view,
        )
        from binlog_processer_spark.plans.pipeline import run_pipeline

        c = _corpus(spark, sf_dir)
        raw = c.select(
            corrupt_expr(
                serialize_expr(), F.col("doc_num"), F.col("r")
            ).alias("raw")
        )
        out = tempfile.mkdtemp(prefix="blp_report_")
        res = run_pipeline(
            spark, raw, _routing(spark, sf_dir), out, resume=False
        )
        return deterministic_view(
            res.tables["process_report"].read(spark)
        )

    q["process_report"] = process_report

    # --- incremental (delta) scan: the downstream-refresh path ---
    def incremental_scan(spark, sf_dir):
        """Two append generations; the consumer reads ONLY the second via
        the manifest-set diff (added_files) — no full-table scan, the
        nightly-delta pattern at 100 TB."""
        import os
        import tempfile

        from binlog_processer_spark.storage.table import SnapshotTable

        t = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix="blp_incr_"), "t")
        )
        ev = _corpus(spark, sf_dir).select(
            "doc_id", "event_seq", "op", "commit_ts"
        )
        t.write(ev.filter(F.col("event_seq") % 2 == 0))
        t.write(ev.filter(F.col("event_seq") % 2 == 1), mode="append")
        return t.read_incremental(spark, since=0)

    q["incremental_scan"] = incremental_scan

    def incremental_rollup(spark, sf_dir):
        """Incremental view maintenance of THE primary aggregate (A1):
        counts committed at generation 1, then merged with the counts of
        ONLY the generation-2 delta (manifest-diff read, no base rescan)
        — must land exactly on the full recompute, which is the oracle.
        Maintenance cost is O(delta) + one rollup-cardinality shuffle;
        at 10^12 rows this is the difference between a nightly counter
        refresh and a full-history rescan per batch."""
        import os
        import tempfile

        from binlog_processer_spark.storage.table import SnapshotTable

        t = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix="blp_ivm_"), "t")
        )
        k = _kept(spark, sf_dir).select(
            "database_name", "table_name", "op", "event_seq"
        )
        t.write(k.filter(F.col("event_seq") % 3 != 2))
        snap1 = t.current_snapshot()
        keys = ["database_name", "table_name"]
        counts1 = agg.sink_counts(t.read(spark), keys=keys)
        t.write(k.filter(F.col("event_seq") % 3 == 2), mode="append")
        delta = agg.sink_counts(
            t.read_incremental(spark, since=snap1), keys=keys
        )
        return agg.merge_counts(
            counts1, delta, keys=keys,
            count_cols=["insert_cnt", "update_cnt", "delete_cnt"],
        )

    q["incremental_rollup"] = incremental_rollup

    # --- A2 per-file counters ---
    def file_event_counts(spark, sf_dir):
        return agg.file_event_counts(_corpus(spark, sf_dir))

    q["file_event_counts"] = file_event_counts

    # --- A4 last-wins per id ---
    def last_wins(spark, sf_dir):
        return agg.last_wins_per_id(_kept(spark, sf_dir)).select(
            "database_name", "table_name", "doc_id", "op", "event_seq", "commit_ts"
        )

    q["last_wins"] = last_wins

    # --- A5 cancellation / final state ---
    def final_state(spark, sf_dir):
        return _final_state(spark, sf_dir).select(
            "database_name", "table_name", "doc_id", "final_op", "final_ts",
            _md5_arr("final_tokens").alias("final_tokens_md5"),
            F.size("final_tokens").alias("final_n_tok"),
            "final_seq",
        )

    q["final_state"] = final_state

    # --- A8 watermarks ---
    def watermarks(spark, sf_dir):
        return agg.watermarks(_kept(spark, sf_dir))

    q["watermarks"] = watermarks

    # --- windowed histogram (streaming-shaped tumbling window) ---
    def windowed_histogram(spark, sf_dir):
        return agg.windowed_histogram(_kept(spark, sf_dir))

    q["windowed_histogram"] = windowed_histogram

    # --- gap-based sessionization (telemetry-side per-entity rollup) ---
    def session_stats(spark, sf_dir):
        from binlog_processer_spark.operators.sessions import session_stats

        return session_stats(_kept(spark, sf_dir), gap_minutes=240)

    q["session_stats"] = session_stats

    def session_windows(spark, sf_dir):
        """Same sessions via Spark's native session_window grouping (the
        streaming-carryover form) — gated against the identical oracle as
        the relational path, proving the two implementations agree."""
        from binlog_processer_spark.operators.sessions import (
            session_window_agg,
        )

        return session_window_agg(_kept(spark, sf_dir), gap_minutes=240)

    q["session_windows"] = session_windows

    # --- per-source distribution drift + per-sink payload percentiles ---
    def drift_histogram(spark, sf_dir):
        from binlog_processer_spark.operators.drift import (
            token_length_histogram,
        )

        return token_length_histogram(_kept(spark, sf_dir))

    q["drift_histogram"] = drift_histogram

    def drift_js(spark, sf_dir):
        from binlog_processer_spark.operators.drift import distribution_drift

        return distribution_drift(_kept(spark, sf_dir))

    q["drift_js"] = drift_js

    def sink_token_percentiles(spark, sf_dir):
        return agg.sink_token_percentiles(_kept(spark, sf_dir))

    q["sink_token_percentiles"] = sink_token_percentiles

    # --- token-level stats: MG heavy hitters, doc frequency, vocab ---
    def token_heavy_hitters(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import heavy_hitters

        return heavy_hitters(_kept(spark, sf_dir), min_support_ppm=2000)

    q["token_heavy_hitters"] = token_heavy_hitters

    def token_merge_pairs(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import merge_pair_counts

        return merge_pair_counts(_kept(spark, sf_dir), top_k=100)

    q["token_merge_pairs"] = token_merge_pairs

    # BPE tokenizer (operators/bpe.py): the merge loop is a pure integer
    # function of the capped (word, count) table, so the DuckDB twin
    # replays it with a generated chained-CTE loop (_bpe_merges_oracle);
    # exactness is ALSO pinned by tests/test_bpe.py's from-scratch
    # reference implementation.
    def token_bpe_merges(spark, sf_dir):
        from binlog_processer_spark.operators.bpe import (
            merges_df,
            train_bpe,
        )

        _, merges = train_bpe(
            _docs(spark, sf_dir), num_merges=64, min_count=2
        )
        return merges_df(spark, merges)

    q["token_bpe_merges"] = token_bpe_merges

    def token_bpe_encode_stats(spark, sf_dir):
        from binlog_processer_spark.operators.bpe import (
            encode,
            encode_stats,
            train_bpe,
        )

        docs = _docs(spark, sf_dir)
        model, _ = train_bpe(docs, num_merges=64, min_count=2)
        return encode_stats(encode(docs, model))

    q["token_bpe_encode_stats"] = token_bpe_encode_stats

    # Unigram-LM tokenizer (operators/unigram.py): the prune-down
    # probabilistic counterpart to BPE's merge-up trainer. The float-EM
    # refinement lives behind the run_tokenize CLI + tests/test_unigram
    # (IEEE log-probs have no cross-engine twin); the DRIVER-facing
    # queries are the trainer's two relational stages, both with exact
    # DuckDB oracles: the seed inventory (integer substring scores) and
    # Viterbi encoding under the quantized (integer micro-nat)
    # EM-initialization model.
    def token_unigram_seed(spark, sf_dir):
        from binlog_processer_spark.operators.unigram import seed_pieces_df

        return seed_pieces_df(
            _docs(spark, sf_dir), seed_size=512, min_count=2
        )

    q["token_unigram_seed"] = token_unigram_seed

    def token_unigram_viterbi_stats(spark, sf_dir):
        from binlog_processer_spark.operators.unigram import (
            seed_model_df,
            viterbi_encode_stats,
        )

        docs = _docs(spark, sf_dir)
        model = seed_model_df(docs, seed_size=512, min_count=2)
        return viterbi_encode_stats(docs, model)

    q["token_unigram_viterbi_stats"] = token_unigram_viterbi_stats

    def token_doc_frequency(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import (
            token_doc_frequency as tdf,
        )

        return tdf(_kept(spark, sf_dir), min_df_ppm=100_000)

    q["token_doc_frequency"] = token_doc_frequency

    def vocab_stats(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import (
            vocab_stats as vs,
        )

        return vs(_kept(spark, sf_dir))

    q["vocab_stats"] = vocab_stats

    def token_ngram_diversity(spark, sf_dir):
        # per-source distinct-1/2/3 corpus diversity (cross-document
        # boilerplate lens: repetition_stats is within-doc only)
        from binlog_processer_spark.operators.tokens import ngram_diversity

        return ngram_diversity(_kept(spark, sf_dir), ns=(1, 2, 3))

    q["token_ngram_diversity"] = token_ngram_diversity

    def doc_idf_score(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import (
            doc_idf_score as dis,
        )

        return dis(_kept(spark, sf_dir))

    q["doc_idf_score"] = doc_idf_score

    def token_bm25_topk(spark, sf_dir):
        # lexical top-k retrieval over the token stream; the query ids are
        # the corpus token-hashes of 'scan'/'merge' (common) and 'dup'
        # (rare) so idf spread is exercised
        from binlog_processer_spark.operators.tokens import bm25_topk

        return bm25_topk(_kept(spark, sf_dir), [6141, 8648, 14689], k=25)

    q["token_bm25_topk"] = token_bm25_topk

    def token_pmi_topk(spark, sf_dir):
        # collocation mining: top bigrams by pointwise mutual
        # information; ranking on the rounded integer milli-nats so the
        # cross-engine order is float-epsilon-free
        from binlog_processer_spark.operators.tokens import pmi_topk

        return pmi_topk(_kept(spark, sf_dir), k=40, min_count=5)

    q["token_pmi_topk"] = token_pmi_topk

    # --- mergeable distinct sketches (operators/sketch.py): KMV bottom-k
    # and HyperLogLog registers over md5-prefix hashes, published next to
    # the exact count + err_ppm. Hashing is the repo md5 canon, so the
    # DuckDB oracle reproduces every register and estimate bit-for-bit.
    def sketch_distinct_kmv(spark, sf_dir):
        from binlog_processer_spark.operators.sketch import kmv_distinct

        return kmv_distinct(_kept(spark, sf_dir), k=128)

    q["sketch_distinct_kmv"] = sketch_distinct_kmv

    def sketch_distinct_hll(spark, sf_dir):
        from binlog_processer_spark.operators.sketch import hll_distinct

        return hll_distinct(_kept(spark, sf_dir), b=10)

    q["sketch_distinct_hll"] = sketch_distinct_hll

    def sketch_token_cms(spark, sf_dir):
        # Count-Min frequency sketch, audited against the exact top-20
        # token counts (overcount_ppm >= 0 by construction)
        from binlog_processer_spark.operators.sketch import (
            cms_estimate_report,
        )

        return cms_estimate_report(
            _kept(spark, sf_dir), depth=4, width=1024, top_k=20
        )

    q["sketch_token_cms"] = sketch_token_cms

    def sketch_source_overlap(spark, sf_dir):
        # bottom-k set resemblance: pairwise Jaccard estimated from the
        # per-source KMV sketches alone, audited vs the exact join
        from binlog_processer_spark.operators.sketch import (
            kmv_source_overlap,
        )

        return kmv_source_overlap(_kept(spark, sf_dir), k=64)

    q["sketch_source_overlap"] = sketch_source_overlap

    def streaming_hll_distinct(spark, sf_dir):
        """Streaming distinct sketch: HLL registers folded per
        micro-batch (4-file rate-limited drain, so the merge is real).
        Register merge is associative/commutative/idempotent, so the
        published rows are bit-identical to the batch sketch — the
        oracle is sketch_distinct_hll's minus the exact-count columns,
        a full hash gate on a streaming computation."""
        from binlog_processer_spark.streaming.sketch_stream import (
            streaming_hll_distinct as shd,
        )

        routing = _routing(spark, sf_dir)

        def to_kept(batch):
            good = keyed_events(parse_raw(batch))
            kept, _ = split_ignored(
                filter_system_schemas(enrich_routing(good, routing))
            )
            return kept

        d = _stream_raw_dir(spark, sf_dir, parts=4)
        return shd(spark, d + "/raw", to_kept, b=10)

    q["streaming_hll_distinct"] = streaming_hll_distinct

    def streaming_quantiles(spark, sf_dir):
        """Streaming quantile sketch: per-batch bottom-k row samples
        merged by the KMV law (union + re-truncate). The merge is
        associative/commutative/idempotent, so the published rows are
        bit-identical to the batch sketch — the oracle is
        sketch_quantiles_kmv's estimate arm, a full hash gate on a
        streaming computation."""
        from binlog_processer_spark.streaming.sketch_stream import (
            streaming_quantiles as sq,
        )

        routing = _routing(spark, sf_dir)

        def to_kept(batch):
            good = keyed_events(parse_raw(batch))
            kept, _ = split_ignored(
                filter_system_schemas(enrich_routing(good, routing))
            )
            return kept

        d = _stream_raw_dir(spark, sf_dir, parts=4)
        return sq(spark, d + "/raw", to_kept, k=128, qs=(50, 95))

    q["streaming_quantiles"] = streaming_quantiles

    def streaming_cms_counters(spark, sf_dir):
        """Streaming Count-Min counters: per-batch depth x width counter
        aggregates summed on the driver (addition is the CMS merge law),
        bit-identical to the batch counters — oracle recomputes every
        counter in SQL."""
        from binlog_processer_spark.streaming.sketch_stream import (
            streaming_cms_counters as scc,
        )

        routing = _routing(spark, sf_dir)

        def to_kept(batch):
            good = keyed_events(parse_raw(batch))
            kept, _ = split_ignored(
                filter_system_schemas(enrich_routing(good, routing))
            )
            return kept

        d = _stream_raw_dir(spark, sf_dir, parts=4)
        return scc(spark, d + "/raw", to_kept, depth=4, width=1024)

    q["streaming_cms_counters"] = streaming_cms_counters

    _PROFILE_COLS = [
        "source", "database_name", "op", "doc_id",
        "event_seq", "n_tok", "commit_ts",
    ]

    def profile_report(spark, sf_dir):
        # Deequ-style per-column completeness/cardinality/range summary
        from binlog_processer_spark.operators.profile import profile_columns

        return profile_columns(_kept(spark, sf_dir), _PROFILE_COLS)

    q["profile_report"] = profile_report

    def qa_expectations(spark, sf_dir):
        # declarative data contract on the documents drop: one scan for
        # all row-level rules + one grouped agg per unique rule
        from binlog_processer_spark.operators.profile import expectations

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return expectations(
            docs,
            [
                {"rule": "not_null", "column": "doc_id"},
                {"rule": "not_null", "column": "text"},
                {"rule": "unique", "columns": ["doc_id"]},
                {"rule": "in_range", "column": "n_chars", "lo": 1,
                 "hi": 100_000},
                {"rule": "in_set", "column": "lang",
                 "values": ["en", "de", "fr"]},
                {"rule": "matches", "column": "source",
                 "pattern": "^src[0-9]+$"},
                {"rule": "sql", "name": "n_chars_matches_text",
                 "predicate": "n_chars = length(text)"},
            ],
        )

    q["qa_expectations"] = qa_expectations

    def profile_key_unique(spark, sf_dir):
        # exactly-once key assertion on the event identity
        from binlog_processer_spark.operators.profile import key_uniqueness

        return key_uniqueness(
            _kept(spark, sf_dir),
            ["database_name", "table_name", "doc_id", "event_seq"],
        )

    q["profile_key_unique"] = profile_key_unique

    def sink_skew_report(spark, sf_dir):
        # hot-key diagnostic: which sinks would need the salted path
        from binlog_processer_spark.operators.skew import key_skew_report

        return key_skew_report(
            _kept(spark, sf_dir), ["database_name", "table_name"], top=8
        )

    q["sink_skew_report"] = sink_skew_report

    def text_repetition(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import repetition_stats

        return repetition_stats(_kept(spark, sf_dir), n=3)

    q["text_repetition"] = text_repetition

    def text_surprisal(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import (
            doc_unigram_logprob,
        )

        return doc_unigram_logprob(_kept(spark, sf_dir))

    q["text_surprisal"] = text_surprisal

    def text_surprisal2(spark, sf_dir):
        # context-aware rung: mean bigram conditional surprisal
        from binlog_processer_spark.operators.tokens import (
            doc_bigram_logprob,
        )

        return doc_bigram_logprob(_kept(spark, sf_dir))

    q["text_surprisal2"] = text_surprisal2

    def dedup_token_spans(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import duplicated_spans

        return duplicated_spans(_kept(spark, sf_dir), n=8, min_docs=2)

    q["dedup_token_spans"] = dedup_token_spans

    def dedup_span_coverage(spark, sf_dir):
        from binlog_processer_spark.operators.tokens import span_coverage

        return span_coverage(_kept(spark, sf_dir), n=8, min_docs=2)

    q["dedup_span_coverage"] = dedup_span_coverage

    # --- A6 HAVING + GROUP_CONCAT report ---
    def partitions_report(spark, sf_dir):
        return agg.grouped_partitions_report(
            agg.sink_counts(_routed(spark, sf_dir)), min_files=2, min_rows=10
        )

    q["partitions_report"] = partitions_report

    # --- A9 gap detection ---
    def file_gaps(spark, sf_dir):
        files = corpus_spark_df(
            spark, sf_dir,
            "SELECT DISTINCT 'dir' || cast(doc_num % 2 AS string) AS dir,"
            " cast((doc_num*doc_num) % 40 AS bigint) AS file_num FROM corpus",
        )
        return agg.file_gap_detection(files)

    q["file_gaps"] = file_gaps

    # --- J3/J4/J5 reconciliation with injected mutations ---
    def reconcile_findings(spark, sf_dir):
        fs = _final_state(spark, sf_dir).persist()
        fs.count()
        return reconcile(None, _replica_from_fs(fs, mutated=True), fs=fs)

    q["reconcile_findings"] = reconcile_findings

    def reconcile_clean(spark, sf_dir):
        fs = _final_state(spark, sf_dir).persist()
        return reconcile(None, _replica_from_fs(fs, mutated=False), fs=fs).select(
            "database_name", "table_name", "doc_id", "finding"
        )

    q["reconcile_clean"] = reconcile_clean

    # --- Merkle-style anti-entropy verify: O(buckets) digest exchange,
    #     row-level reconcile only inside buckets that provably differ ---
    def antientropy_buckets(spark, sf_dir):
        from binlog_processer_spark.operators.antientropy import (
            bucket_digests,
            diff_buckets,
            expected_replica,
        )

        fs = _final_state(spark, sf_dir).persist()
        fs.count()
        keys = ["database_name", "table_name", "doc_id"]
        ts = [F.unix_micros(F.col("replica_ts"))]
        src = bucket_digests(expected_replica(fs), keys, ts, n_buckets=64)
        dst = bucket_digests(
            _replica_from_fs(fs, mutated=True).select(*keys, "replica_ts"),
            keys, ts, n_buckets=64,
        )
        return diff_buckets(src, dst)

    q["antientropy_buckets"] = antientropy_buckets

    def antientropy_findings(spark, sf_dir):
        from binlog_processer_spark.operators.antientropy import (
            antientropy_reconcile,
        )

        fs = _final_state(spark, sf_dir).persist()
        fs.count()
        replica = _replica_from_fs(fs, mutated=True)
        _suspects, findings = antientropy_reconcile(fs, replica, n_buckets=64)
        return findings

    q["antientropy_findings"] = antientropy_findings

    # --- change-data-feed between snapshots (manifest-planned file diff,
    #     EXCEPT ALL cancellation, Delta-CDF classification) ---
    def snapshot_changes(spark, sf_dir):
        import os
        import tempfile

        from binlog_processer_spark.storage.changes import table_changes
        from binlog_processer_spark.storage.table import SnapshotTable

        kept = _kept(spark, sf_dir)
        cols = ["database_name", "table_name", "doc_id", "final_op",
                "final_seq"]

        def _live(ev):
            return (
                agg.final_state(ev)
                .filter(F.col("final_op") != "Delete")
                .select(*cols)
            )

        tbl = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix="blp_cdf_"), "state")
        )
        tbl.write(_live(kept.filter(F.col("event_seq") % 3 != 0)))
        tbl.write(_live(kept), mode="overwrite")
        return table_changes(
            spark, tbl, since=0,
            key_cols=["database_name", "table_name", "doc_id"],
        )

    q["snapshot_changes"] = snapshot_changes

    # --- generic MERGE INTO (update / delete / insert arms in one call) ---
    def merge_roundtrip(spark, sf_dir):
        import os
        import tempfile

        from binlog_processer_spark.operators.merge import merge_into
        from binlog_processer_spark.storage.table import SnapshotTable

        fs = _final_state(spark, sf_dir)
        base = (
            fs.filter(F.col("final_op") != "Delete")
            .withColumn("doc_num", F.col("doc_id").cast("bigint"))
            .select("database_name", "table_name", "doc_id", "doc_num",
                    "final_seq")
        )
        tbl = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix="blp_merge_"), "state")
        )
        tbl.write(base.drop("doc_num").repartition(8))
        upd = base.filter(F.col("doc_num") % 7 == 1).withColumn(
            "final_seq", F.lit(-1).cast("bigint")
        )
        dele = base.filter(
            (F.col("doc_num") % 9 == 2) & (F.col("doc_num") % 7 != 1)
        ).withColumn("final_seq", F.lit(-999).cast("bigint"))
        ins = base.filter(F.col("doc_num") % 17 == 5).select(
            "database_name", "table_name",
            F.concat(F.col("doc_id"), F.lit("_new")).alias("doc_id"),
            "doc_num",
            (F.col("doc_num") + 1_000_000).alias("final_seq"),
        )
        src = upd.unionByName(dele).unionByName(ins).drop("doc_num")
        merge_into(
            spark, tbl, src,
            on=["database_name", "table_name", "doc_id"],
            matched_delete="s.final_seq = -999",
            matched_update="all",
        )
        return tbl.read(spark)

    q["merge_roundtrip"] = merge_roundtrip

    # --- merge-on-read equality deletes (Iceberg-v2 semantics): a delete
    #     commit writes ONLY key tuples (kilobytes on a 100 TB table) and
    #     rewrites no data file; readers apply a sequence-scoped anti-join,
    #     so a key re-appended AFTER its delete survives ---
    def _mor_table(spark, sf_dir, prefix):
        import os
        import tempfile

        from binlog_processer_spark.storage.table import SnapshotTable

        fs = _final_state(spark, sf_dir)
        base = fs.filter(F.col("final_op") != "Delete").select(
            "database_name", "table_name", "doc_id", "final_seq"
        )
        tbl = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix=prefix), "state")
        )
        tbl.write(base.repartition(8))
        doomed = base.filter(F.col("doc_id").cast("bigint") % 13 == 4)
        tbl.write_deletes(
            doomed.select("database_name", "table_name", "doc_id"),
            ["database_name", "table_name", "doc_id"],
        )
        return tbl, doomed

    def mor_equality_delete(spark, sf_dir):
        tbl, doomed = _mor_table(spark, sf_dir, "blp_mor_")
        # the merge-on-read claim, checked: the delete commit carried the
        # parent's data files byte-identically
        snap = tbl.current_snapshot()
        assert tbl.data_files(snap) == tbl.data_files(snap - 1)
        # re-append half the erased keys AFTER the delete — sequence
        # scoping must let exactly these rows survive
        tbl.write(
            doomed.filter(F.col("doc_id").cast("bigint") % 26 == 4)
            .withColumn("final_seq", F.lit(-5).cast("bigint")),
            mode="append",
        )
        return tbl.read(spark)

    q["mor_equality_delete"] = mor_equality_delete

    def mor_materialize(spark, sf_dir):
        tbl, doomed = _mor_table(spark, sf_dir, "blp_morm_")
        tbl.write(
            doomed.filter(F.col("doc_id").cast("bigint") % 26 == 4)
            .withColumn("final_seq", F.lit(-5).cast("bigint")),
            mode="append",
        )
        snap = tbl.materialize_deletes(spark)
        m = tbl._manifest(snap)
        # debt folded: no delete files remain, and no first-generation
        # data file survived the rewrite
        assert not m.get("delete_files")
        assert not any(f.startswith("snap-0/") for f in tbl.data_files(snap))
        return tbl.read(spark)

    q["mor_materialize"] = mor_materialize

    def mor_cdf_delete(spark, sf_dir):
        from binlog_processer_spark.storage.changes import table_changes

        tbl, _doomed = _mor_table(spark, sf_dir, "blp_morc_")
        # the delete commit changed rows without changing the file
        # inventory — the CDF must still surface exactly the erased rows
        return table_changes(spark, tbl, since=tbl.current_snapshot() - 1)

    q["mor_cdf_delete"] = mor_cdf_delete

    # --- time travel: a tagged snapshot and a timestamp read both serve
    #     the table EXACTLY as committed, after an overwrite replaced it ---
    def time_travel_read(spark, sf_dir):
        import os
        import tempfile

        from binlog_processer_spark.storage.table import SnapshotTable

        kept = _kept(spark, sf_dir)
        cols = ["database_name", "table_name", "doc_id", "final_op",
                "final_seq"]

        def _live(ev):
            return (
                agg.final_state(ev)
                .filter(F.col("final_op") != "Delete")
                .select(*cols)
            )

        tbl = SnapshotTable(
            os.path.join(tempfile.mkdtemp(prefix="blp_tt_"), "state")
        )
        tbl.write(_live(kept.filter(F.col("event_seq") % 3 != 0)))
        tbl.tag("v1")
        tbl.write(_live(kept), mode="overwrite")
        as_of = tbl.read_as_of(spark, tbl._manifest(0)["created_ms"])
        tagged = tbl.read(spark, "v1")
        # both travel paths must agree bit-for-bit before we answer
        assert as_of.exceptAll(tagged).limit(1).count() == 0
        assert tagged.exceptAll(as_of).limit(1).count() == 0
        return tagged

    q["time_travel_read"] = time_travel_read

    # --- repair (MERGE semantics) — ONE event replay shared by replica
    # derivation, reconcile, and repair (AvroDataReader.java:95-135 replays
    # once; recomputing final_state per stage was a 3x scan) ---
    def repair_roundtrip(spark, sf_dir):
        fs = _final_state(spark, sf_dir).persist()
        fs.count()  # eager: populate the cache ONCE before the 6+ self-joins
        replica = _replica_from_fs(fs, mutated=True)
        findings = reconcile(None, replica, fs=fs)
        repaired = repair(None, replica, findings, fs=fs)
        return repaired.select(
            "database_name", "table_name", "doc_id", "replica_ts",
            _md5_arr("replica_tokens").alias("replica_tokens_md5"),
        )

    q["repair_roundtrip"] = repair_roundtrip

    # --- resume anti-join ---
    def resume_remaining(spark, sf_dir):
        ev = remaining_events(
            _corpus(spark, sf_dir), {"src0-f0", "src1-f1", "src2-f2"}
        )
        return ev.groupBy("file_id").agg(F.count("*").alias("cnt"))

    q["resume_remaining"] = resume_remaining

    # --- P1 system-schema filter (src13 routes to database 'mysql') ---
    def system_schema_counts(spark, sf_dir):
        return (
            _enriched(spark, sf_dir)
            .filter(F.col("database_name").isin("mysql", "infra"))
            .groupBy("database_name")
            .agg(F.count("*").alias("cnt"))
        )

    q["system_schema_counts"] = system_schema_counts

    # --- timezone/epoch compat (SchemaData.java:60-68 −8h CST shift;
    #     DataBaseHandler.java:44-52 epoch s↔ms 10-digit heuristic) ---
    def timezone_compat(spark, sf_dir):
        from binlog_processer_spark.functions.compat import (
            cst_date_shift,
            epoch_to_ts,
        )

        c = _corpus(spark, sf_dir)
        mixed = c.withColumn(
            "epoch_mixed",
            F.when(
                F.col("doc_num") % 2 == 0, F.unix_timestamp("commit_ts")
            ).otherwise(F.unix_timestamp("commit_ts") * 1000),
        )
        return mixed.select(
            "doc_id", "event_seq", "epoch_mixed",
            epoch_to_ts(F.col("epoch_mixed")).alias("recovered_ts"),
            F.to_date(cst_date_shift(F.col("commit_ts")))
            .cast("timestamp")
            .alias("cst_day"),
            (epoch_to_ts(F.col("epoch_mixed")) == F.col("commit_ts")).alias(
                "roundtrip_ok"
            ),
        )

    q["timezone_compat"] = timezone_compat

    # --- P5 identifier normalization (AvroDataBuilder.java:223,237-247) ---
    def identifier_norm(spark, sf_dir):
        from binlog_processer_spark.functions.compat import normalize_identifier

        raw_ident = F.concat(
            F.lit("`"), F.upper("database_name"), F.lit("`.`"),
            F.upper("table_name"), F.lit("`"),
        )
        return _routing(spark, sf_dir).select(
            "table_key",
            raw_ident.alias("raw_ident"),
            normalize_identifier(raw_ident).alias("norm_ident"),
        )

    q["identifier_norm"] = identifier_norm

    # --- id-list truncation (CheckDBUtil.java:39-46, cap lowered to 10 so
    #     truncation bites at sf0.01) ---
    def probe_id_lists(spark, sf_dir):
        from binlog_processer_spark.functions.compat import truncated_id_list

        return truncated_id_list(
            _kept(spark, sf_dir), ["database_name", "table_name"], max_ids=10
        )

    q["probe_id_lists"] = probe_id_lists

    # --- √n probe sample (TiDBCompareByFile.java:386-411) ---
    def probe_sample(spark, sf_dir):
        from binlog_processer_spark.functions.compat import sqrt_sample

        base = (
            _kept(spark, sf_dir)
            .select("database_name", "table_name", "doc_id")
            .distinct()
        )
        return sqrt_sample(base, ["database_name", "table_name"])

    q["probe_sample"] = probe_sample

    # --- per-row token equality on ROUTED rows (BASELINE.json invariant,
    #     gated by the driver instead of pytest only) ---
    def routed_tokens_digest(spark, sf_dir):
        routed = _routed(spark, sf_dir)
        return routed.select(
            "tree", "doc_id", "event_seq", "op",
            F.col("img.n_tok").alias("img_n_tok"),
            _md5_arr("img.tokens").alias("tokens_md5"),
        )

    q["routed_tokens_digest"] = routed_tokens_digest

    # --- §2.8 string scalar functions over corpus columns ---
    def scalar_strings(spark, sf_dir):
        from binlog_processer_spark.functions.strings import (
            binlog_file_num,
            hive_partition_path,
            op_code,
            parse_hive_partition,
            split_key,
            strip_tar,
        )

        c = _corpus(spark, sf_dir)
        synth = F.concat(
            F.lit("mysql-bin.00"), F.lpad((F.col("doc_num") % 997).cast("string"), 4, "0"),
            F.lit(".tar"),
        )
        hp = hive_partition_path(F.col("commit_ts"))
        return c.select(
            "doc_id", "event_seq",
            op_code(F.col("op")).alias("op_code"),
            strip_tar(synth).alias("binlog_name"),
            binlog_file_num(strip_tar(synth)).alias("binlog_num"),
            hp.alias("hive_path"),
            parse_hive_partition(hp).cast("timestamp").alias("hive_date"),
            split_key(F.col("file_id"), 2, "-").alias("file_part"),
        )

    q["scalar_strings"] = scalar_strings

    # ------------------------------------------------------------------
    # training-data ops: dedup / similarity / text analysis (documents +
    # embeddings tables)
    # ------------------------------------------------------------------

    def _docs(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    def _embs(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # training-mix ops (operators/mix.py): sample → pack → leakage screen
    def mix_stratified_sample(spark, sf_dir):
        from binlog_processer_spark.operators.mix import stratified_sample

        return stratified_sample(
            _docs(spark, sf_dir),
            rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
            default_rate=0.1,
        ).select("doc_id", "source")

    q["mix_stratified_sample"] = mix_stratified_sample

    def mix_pack_sequences(spark, sf_dir):
        from binlog_processer_spark.operators.mix import pack_sequences

        d = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.greatest(F.lit(1), F.floor(F.col("n_chars") / 4))
            .cast("bigint")
            .alias("n_tok"),
        )
        return pack_sequences(d, max_tokens=2048, shards=2)

    q["mix_pack_sequences"] = mix_pack_sequences

    def mix_contamination(spark, sf_dir):
        from binlog_processer_spark.operators.mix import contamination

        d = _docs(spark, sf_dir)
        return contamination(
            d.filter(F.col("doc_id") % 20 != 0),
            d.filter(F.col("doc_id") % 20 == 0),
        )

    q["mix_contamination"] = mix_contamination

    def mix_quality_budget(spark, sf_dir):
        from binlog_processer_spark.operators.mix import quality_token_budget

        return quality_token_budget(_docs(spark, sf_dir), bin_bp=2500)

    q["mix_quality_budget"] = mix_quality_budget

    def mix_holdout_carve(spark, sf_dir):
        from binlog_processer_spark.operators.mix import holdout_carve

        return holdout_carve(_docs(spark, sf_dir), k=25)

    q["mix_holdout_carve"] = mix_holdout_carve

    def mix_shard_assign(spark, sf_dir):
        # deterministic export sharding: (doc, shard, in-shard position)
        from binlog_processer_spark.operators.mix import shard_assign

        return shard_assign(_docs(spark, sf_dir), n_shards=16)

    q["mix_shard_assign"] = mix_shard_assign

    def mix_epoch_order(spark, sf_dir):
        # fresh deterministic traversal order per training epoch — a pure
        # projection (zero shuffle): shard stays the stable md5 home,
        # order_key = md5(epoch || '|' || id) re-permutes every epoch
        from binlog_processer_spark.operators.mix import epoch_order

        return epoch_order(_docs(spark, sf_dir), epoch=3, n_shards=16)

    q["mix_epoch_order"] = mix_epoch_order

    def mix_pack_boundaries(spark, sf_dir):
        # per-packed-sequence doc-boundary offsets (attention-mask input);
        # the boundary array surfaces as an md5 digest (driver canon
        # hashes scalars, not arrays)
        from binlog_processer_spark.operators.mix import (
            pack_sequences,
            sequence_boundaries,
        )

        d = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.greatest(F.lit(1), F.floor(F.col("n_chars") / 4))
            .cast("bigint")
            .alias("n_tok"),
        )
        b = sequence_boundaries(
            pack_sequences(d, max_tokens=2048, shards=2), max_tokens=2048
        )
        return b.select(
            "source", "shard", "seq", "n_docs",
            _md5_arr("boundaries").alias("boundaries_md5"), "fill_bp",
        )

    q["mix_pack_boundaries"] = mix_pack_boundaries

    def mix_rebalance(spark, sf_dir):
        # closed-form mixing-weight planner: rates hitting target token
        # shares with max retention
        from binlog_processer_spark.operators.mix import rebalance_report

        d = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.greatest(F.lit(1), F.floor(F.col("n_chars") / 4))
            .cast("bigint")
            .alias("n_tok"),
        )
        return rebalance_report(
            d, targets={"src0": 0.5, "src1": 0.3, "src2": 0.2}
        )

    q["mix_rebalance"] = mix_rebalance

    def mix_temperature_targets(spark, sf_dir):
        # temperature-scaled mixing planner: targets derived from observed
        # shares (p ∝ share^(1/T)), then the same max-retention rate solve
        from binlog_processer_spark.operators.mix import temperature_targets

        d = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.greatest(F.lit(1), F.floor(F.col("n_chars") / 4))
            .cast("bigint")
            .alias("n_tok"),
        )
        return temperature_targets(d, temperature=2.0)

    q["mix_temperature_targets"] = mix_temperature_targets

    def mix_weighted_sample(spark, sf_dir):
        # Efraimidis–Spirakis weighted sample without replacement, u from
        # the md5-prefix canon — deterministic, engine-reproducible top-n
        from binlog_processer_spark.operators.mix import weighted_sample

        d = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.greatest(F.lit(1), F.floor(F.col("n_chars") / 4))
            .cast("bigint")
            .alias("n_tok"),
        )
        return weighted_sample(d, n=200, weight_col="n_tok")

    q["mix_weighted_sample"] = mix_weighted_sample

    def mix_shard_incremental(spark, sf_dir):
        # append a new batch (doc_id % 10 = 0) to shards exported for the
        # rest of the corpus: positions continue after each shard's tail
        from binlog_processer_spark.operators.mix import (
            shard_assign_incremental,
            shard_manifest,
        )

        d = _docs(spark, sf_dir)
        exported = d.filter(F.col("doc_id") % 10 != 0)
        batch = d.filter(F.col("doc_id") % 10 == 0)
        return shard_assign_incremental(
            batch, shard_manifest(exported, n_shards=16), n_shards=16
        )

    q["mix_shard_incremental"] = mix_shard_incremental

    def ann_embedding_qa(spark, sf_dir):
        # hygiene gate before any index build; the synthetic embeddings
        # are clean, so the query deterministically poisons vec_id%7 with
        # a leading NaN and vec_id%11 with an all-zero vector (same
        # expression in the oracle)
        from binlog_processer_spark.operators.similarity import embedding_qa

        e = _embs(spark, sf_dir).select(
            "vec_id",
            F.expr(
                "CASE WHEN vec_id % 11 = 0 THEN"
                " transform(cast(embedding as array<double>), x -> 0.0d)"
                " WHEN vec_id % 7 = 0 THEN"
                " concat(array(cast('NaN' as double)),"
                " slice(cast(embedding as array<double>), 2,"
                " size(embedding) - 1))"
                " ELSE cast(embedding as array<double>) END"
            ).alias("embedding"),
        )
        return embedding_qa(e)

    q["ann_embedding_qa"] = ann_embedding_qa

    def text_encoding_qa(spark, sf_dir):
        # the synthetic corpus is clean ASCII, so the query plants decode
        # tombstones: U+FFFD + a C0 control on doc_id%6, a non-ASCII tail
        # on doc_id%9 (same literals in the oracle)
        from binlog_processer_spark.functions.text import encoding_qa

        inj = (
            F.when(F.col("doc_id") % 6 == 0, F.lit(" ��x\x01"))
            .when(F.col("doc_id") % 9 == 0, F.lit(" café世界"))
            .otherwise(F.lit(""))
        )
        d = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.coalesce(F.col("text"), F.lit("")), inj).alias(
                "text"
            ),
        )
        return encoding_qa(d)

    q["text_encoding_qa"] = text_encoding_qa

    def mix_pack_tokens(spark, sf_dir):
        # materialized packed sequences over the PRE-TOKENIZED corpus
        # (BASELINE input shape: doc_id, tokens, n_tok, source) — one
        # event per doc (r = 0); arrays surface as md5 digests
        from binlog_processer_spark.operators.mix import materialize_packed

        d = _corpus(spark, sf_dir).filter(F.col("r") == 0).select(
            "doc_id", "source", "tokens",
            F.col("n_tok").cast("bigint").alias("n_tok"),
        )
        m = materialize_packed(d, max_tokens=512, shards=2)
        return m.select(
            "source", "shard", "seq", "n_docs", "n_tok",
            _md5_arr("tokens").alias("tokens_md5"),
        )

    q["mix_pack_tokens"] = mix_pack_tokens

    def _events(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/events.parquet")

    def session_funnel(spark, sf_dir):
        from binlog_processer_spark.operators.sessions import (
            funnel_conversion,
        )

        return funnel_conversion(
            _events(spark, sf_dir), steps=["view", "click", "purchase"]
        )

    q["session_funnel"] = session_funnel

    def session_retention(spark, sf_dir):
        from binlog_processer_spark.operators.sessions import (
            retention_cohorts,
        )

        # date→timestamp for the driver canon (pandas date objects hash
        # differently from datetime64 on the DuckDB side)
        return retention_cohorts(_events(spark, sf_dir), max_day=30).select(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            "day_offset", "active_users", "cohort_users", "retention_bp",
        )

    q["session_retention"] = session_retention

    def sink_ingestion_lag(spark, sf_dir):
        # CDC freshness: commit-to-event latency shape per sink
        return agg.ingestion_lag(_kept(spark, sf_dir))

    q["sink_ingestion_lag"] = sink_ingestion_lag

    def drift_rate_anomalies(spark, sf_dir):
        # k-sigma daily-rate flags in exact integer arithmetic
        from binlog_processer_spark.operators.drift import rate_anomalies

        return rate_anomalies(_kept(spark, sf_dir))

    q["drift_rate_anomalies"] = drift_rate_anomalies

    def multimodal_resize(spark, sf_dir):
        # second multimodal gate: the resize kernel's REAL dim math plus
        # the byte-stride stub payload, surfaced as length + md5 (the
        # corpus text is ASCII, so the oracle mirrors the byte stride as
        # a char stride)
        from binlog_processer_spark.multimodal import (
            resize_plan,
            synthesize_media,
        )

        m = resize_plan(
            synthesize_media(_docs(spark, sf_dir)), max_dim=256
        )
        return m.select(
            "doc_id", "src_width", "src_height", "dst_width", "dst_height",
            F.length("payload").cast("bigint").alias("out_len"),
            F.md5("payload").alias("payload_md5"),
        )

    q["multimodal_resize"] = multimodal_resize

    def multimodal_frames(spark, sf_dir):
        # third multimodal gate: the frame-sampling slice plan, surfaced
        # as frame count + digest-of-frame-digests
        from binlog_processer_spark.multimodal import (
            frame_sample_plan,
            synthesize_media,
        )

        f = frame_sample_plan(
            synthesize_media(_docs(spark, sf_dir)), every_n=10
        )
        return f.select(
            "doc_id",
            F.size("frames").cast("bigint").alias("n_frames"),
            F.expr(
                "md5(concat_ws('|', transform(frames, x -> md5(x))))"
            ).alias("frames_md5"),
        )

    q["multimodal_frames"] = multimodal_frames

    def events_props_stats(spark, sf_dir):
        # schema-on-read JSON extraction + per-type rollup; a deterministic
        # third of payloads is corrupted to exercise the quarantine lane
        from binlog_processer_spark.functions.jsoncol import props_stats

        e = _events(spark, sf_dir).withColumn(
            "props",
            F.when(F.col("event_id") % 3 == 0, F.lit("{not json"))
            .when(F.col("event_id") % 5 == 0, F.lit("{}"))
            .otherwise(F.col("props")),
        )
        return props_stats(e, field="k", field_type="int")

    q["events_props_stats"] = events_props_stats

    def dedup_containment(spark, sf_dir):
        # asymmetric quote-inclusion dedup; the corpus has no verbatim
        # inclusions, so the query plants deterministic 8-word snippets of
        # every >=20-word doc (same derivation in the oracle) — containment
        # must recover every planted (snippet, parent) pair
        from binlog_processer_spark.functions.text import WORDS
        from binlog_processer_spark.operators.dedup import containment_pairs

        d = _docs(spark, sf_dir).select("doc_id", "text")
        snip = d.filter(F.expr(f"size({WORDS}) >= 20")).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr(f"array_join(slice({WORDS}, 1, 8), ' ')").alias("text"),
        )
        return containment_pairs(
            d.unionByName(snip), n=3, min_containment_bp=8000
        )

    q["dedup_containment"] = dedup_containment

    def dedup_containment_kept(spark, sf_dir):
        # the containment decision applied: planted snippets must all be
        # dropped, their parents all kept
        from binlog_processer_spark.functions.text import WORDS
        from binlog_processer_spark.operators.dedup import (
            containment_pairs,
            drop_contained,
        )

        d = _docs(spark, sf_dir).select("doc_id", "text")
        snip = d.filter(F.expr(f"size({WORDS}) >= 20")).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr(f"array_join(slice({WORDS}, 1, 8), ' ')").alias("text"),
        )
        base = d.unionByName(snip)
        pairs = containment_pairs(base, n=3, min_containment_bp=8000)
        return drop_contained(base, pairs).select("doc_id")

    q["dedup_containment_kept"] = dedup_containment_kept

    def mix_shard_manifest(spark, sf_dir):
        from binlog_processer_spark.operators.mix import shard_manifest

        return shard_manifest(_docs(spark, sf_dir), n_shards=16)

    q["mix_shard_manifest"] = mix_shard_manifest

    def text_pii_scrub(spark, sf_dir):
        # the synthetic corpus carries no PII, so the query injects a
        # deterministic doc_id-derived email/IP/phone tail into every row
        # (same expression in the oracle) — the scrubber is exercised on
        # every document, not vacuously green
        from binlog_processer_spark.functions.text import pii_scrub

        d = _docs(spark, sf_dir).select(
            "doc_id", F.expr(_PII_INJECT_SQL).alias("text")
        )
        return pii_scrub(d)

    q["text_pii_scrub"] = text_pii_scrub

    q["dedup_exact"] = lambda s, d: exact_dedup(_docs(s, d))
    q["dedup_minhash_sigs"] = lambda s, d: minhash_signatures(_docs(s, d), k=4)
    q["dedup_minhash_pairs"] = lambda s, d: minhash_lsh_pairs(
        _docs(s, d), k=8, bands=4
    )
    def dedup_components(spark, sf_dir):
        # pairs -> transitive duplicate clusters, labeled by min member id
        from binlog_processer_spark.operators.dedup import (
            connected_components,
        )

        return connected_components(
            minhash_lsh_pairs(_docs(spark, sf_dir), k=8, bands=4)
        )

    q["dedup_components"] = dedup_components

    def dedup_components_lss(spark, sf_dir):
        # same pair graph, resolved by large-star/small-star alternation
        # (Kiveris et al. 2014) — O(log^2 n) rounds instead of diameter;
        # must produce the identical clustering
        from binlog_processer_spark.operators.dedup import (
            alternating_components,
        )

        return alternating_components(
            minhash_lsh_pairs(_docs(spark, sf_dir), k=8, bands=4)
        )

    q["dedup_components_lss"] = dedup_components_lss

    def dedup_source_matrix(spark, sf_dir):
        # cross-source containment: near-dup pair counts per unordered
        # source pair — the source-priority input for multi-source dedup.
        # Build-once/derive-many: the matrix derives from the PERSISTED
        # band index (the relation daily ingest maintains via
        # incremental_minhash_pairs) when one exists for this corpus —
        # re-shingling 10^12 docs to answer a sources² report would
        # re-pay the whole index build. Pairs are bit-identical either
        # way (band hashes are exact md5 strings), so the oracle holds.
        import os
        import tempfile

        from binlog_processer_spark.operators.dedup import (
            minhash_bands,
            pairs_from_band_index,
            source_overlap_matrix,
        )
        from binlog_processer_spark.storage.table import SnapshotTable

        docs = _docs(spark, sf_dir)
        tag = os.path.basename(sf_dir.rstrip("/"))
        tbl = SnapshotTable(
            os.path.join(
                tempfile.gettempdir(), f"blp_band_index_{tag}", "bands"
            )
        )
        bands_df = None
        if tbl.current_snapshot() is not None:
            cached = tbl.read(spark)
            # staleness gate: the index must cover exactly this corpus
            if cached.count() == docs.count() * 4:
                bands_df = cached
        if bands_df is None:
            tbl.write(minhash_bands(docs, k=8, bands=4))
            bands_df = tbl.read(spark)
        return source_overlap_matrix(
            docs, pairs_from_band_index(bands_df)
        )

    q["dedup_source_matrix"] = dedup_source_matrix

    def dedup_keep_list(spark, sf_dir):
        # the end-to-end dedup decision: corpus minus every clustered doc
        # except its representative
        from binlog_processer_spark.operators.dedup import (
            connected_components,
            keep_representatives,
        )

        docs = _docs(spark, sf_dir)
        comp = connected_components(minhash_lsh_pairs(docs, k=8, bands=4))
        return keep_representatives(docs, comp).select("doc_id", "source")

    q["dedup_keep_list"] = dedup_keep_list

    def dedup_source_report(spark, sf_dir):
        # the release artifact on top of the keep decision: per-source
        # docs in / kept / removed basis points (which sources carry the
        # duplication burden)
        from binlog_processer_spark.operators.dedup import (
            connected_components,
            keep_representatives,
        )

        docs = _docs(spark, sf_dir)
        comp = connected_components(minhash_lsh_pairs(docs, k=8, bands=4))
        kept = keep_representatives(docs, comp).groupBy("source").agg(
            F.count("*").cast("bigint").alias("kept")
        )
        return (
            docs.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("docs_in"))
            .join(kept, "source", "left")
            .select(
                "source",
                "docs_in",
                F.coalesce("kept", F.lit(0)).cast("bigint").alias("kept"),
                F.floor(
                    (F.col("docs_in") - F.coalesce("kept", F.lit(0)))
                    * 10000
                    / F.col("docs_in")
                )
                .cast("bigint")
                .alias("removed_bp"),
            )
        )

    q["dedup_source_report"] = dedup_source_report

    def dedup_minhash_incremental(spark, sf_dir):
        # daily-ingest shape: docs with doc_id%5==0 arrive as the NEW
        # batch against a band index built from the rest — only pairs
        # touching a new doc may appear
        from binlog_processer_spark.operators.dedup import (
            incremental_minhash_pairs,
            minhash_bands,
        )

        docs = _docs(spark, sf_dir)
        index = minhash_bands(docs.filter(F.col("doc_id") % 5 != 0))
        return incremental_minhash_pairs(
            docs.filter(F.col("doc_id") % 5 == 0), index
        )

    q["dedup_minhash_incremental"] = dedup_minhash_incremental

    q["dedup_simhash_sigs"] = lambda s, d: simhash_signatures(_docs(s, d))
    q["dedup_simhash_pairs"] = lambda s, d: simhash_block_pairs(_docs(s, d))
    q["dedup_ngram_jaccard"] = lambda s, d: ngram_jaccard_pairs(
        _docs(s, d), n=3, min_jaccard_bp=5000
    )
    q["ann_cosine_topk"] = lambda s, d: cosine_topk(
        _embs(s, d), query_ids=list(range(10)), k=10
    )
    q["ann_cosine_lsh"] = lambda s, d: cosine_topk_lsh(
        _embs(s, d), query_ids=list(range(10)), k=5
    )

    def ann_cosine_int8(spark, sf_dir):
        from binlog_processer_spark.operators.similarity import (
            cosine_topk_int8,
        )

        return cosine_topk_int8(
            _embs(spark, sf_dir), query_ids=list(range(10)), k=10
        )

    q["ann_cosine_int8"] = ann_cosine_int8

    def ann_ivf_topk(spark, sf_dir):
        from binlog_processer_spark.operators.similarity import ivf_topk

        return ivf_topk(
            _embs(spark, sf_dir), query_ids=list(range(10)), k=5,
            n_centroids=16, n_probe=4,
        )

    q["ann_ivf_topk"] = ann_ivf_topk

    # k-means-refined IVF: the fixed-point Lloyd canon (1e-7-grain
    # integer component sums, half-away mean rounding) makes refined
    # centroids a pure function of the corpus, so both queries carry
    # full DuckDB oracles (chained per-iteration CTE replay); the numpy
    # tolerance + quality gates in tests/test_kmeans.py still pin them.
    def ann_ivf_refined(spark, sf_dir):
        from binlog_processer_spark.operators.similarity import ivf_topk

        return ivf_topk(
            _embs(spark, sf_dir), query_ids=list(range(10)), k=5,
            n_centroids=16, n_probe=4, refine_iters=2,
        )

    q["ann_ivf_refined"] = ann_ivf_refined

    def ann_ivf_probe(spark, sf_dir):
        # build-once/probe-many: materialize the inverted-list index,
        # then probe it — must hash-match the inline ann_ivf_topk oracle
        from binlog_processer_spark.operators.similarity import (
            ivf_index,
            ivf_probe,
        )

        index, cent = ivf_index(_embs(spark, sf_dir), n_centroids=16)
        return ivf_probe(
            index, cent, query_ids=list(range(10)), k=5, n_probe=4
        )

    q["ann_ivf_probe"] = ann_ivf_probe

    # IVFADC (Jégou 2011 §IV): coarse IVF + PQ on residuals, ADC probe —
    # the 10^9-vector composition; fully fixed-point, hash-gated
    def ann_ivfadc_topk(spark, sf_dir):
        from binlog_processer_spark.operators.similarity import ivfadc_topk

        return ivfadc_topk(
            _embs(spark, sf_dir), query_ids=list(range(10)), k=5,
            n_centroids=16, n_probe=4, m=32, ks=16,
        )

    q["ann_ivfadc_topk"] = ann_ivfadc_topk

    def ann_recall_ivfadc(spark, sf_dir):
        from binlog_processer_spark.operators.similarity import (
            cosine_topk,
            ivfadc_topk,
            topk_recall,
        )

        embs = _embs(spark, sf_dir)
        qids = list(range(10))
        return topk_recall(
            cosine_topk(embs, qids, k=5),
            ivfadc_topk(
                embs, qids, k=5, n_centroids=16, n_probe=4, m=32, ks=16
            ),
            k=5,
        )

    q["ann_recall_ivfadc"] = ann_recall_ivfadc

    def ann_kmeans_quality(spark, sf_dir):
        from binlog_processer_spark.operators.similarity import (
            ivf_centroids,
            kmeans_quality,
            kmeans_refine,
        )

        embs = _embs(spark, sf_dir)
        cent = kmeans_refine(embs, ivf_centroids(embs, 16), n_iters=2)
        return kmeans_quality(embs, cent)

    q["ann_kmeans_quality"] = ann_kmeans_quality

    # model-based quality filtering (operators/classifier.py): the
    # fixed-point GD canon (integer margins/gradients on 1e-9/1e-7
    # grains) makes training deterministic, so the query carries a full
    # DuckDB oracle (generated chained-CTE GD replay); exactness is also
    # pinned by tests/test_classifier.py's from-scratch reference
    def quality_classifier(spark, sf_dir):
        from binlog_processer_spark.operators.classifier import (
            quality_classifier_report,
        )

        d = _docs(spark, sf_dir).withColumn(
            "y", (F.length("text") > 120).cast("int")
        )
        return quality_classifier_report(
            d, label_col="y", k=64, n_iters=15
        )

    q["quality_classifier"] = quality_classifier

    def ann_recall(spark, sf_dir):
        # recall@5 acceptance gate: how much of the exact top-5 the
        # banded sign-LSH arm recovers, per query
        from binlog_processer_spark.operators.similarity import topk_recall

        embs = _embs(spark, sf_dir)
        return topk_recall(
            cosine_topk(embs, query_ids=list(range(10)), k=5),
            cosine_topk_lsh(embs, query_ids=list(range(10)), k=5),
            k=5,
        )

    q["ann_recall"] = ann_recall

    def ann_recall_ivf(spark, sf_dir):
        # same gate, IVF arm: recall@5 vs exact at 16 centroids / 4 probes
        from binlog_processer_spark.operators.similarity import (
            ivf_topk,
            topk_recall,
        )

        embs = _embs(spark, sf_dir)
        return topk_recall(
            cosine_topk(embs, query_ids=list(range(10)), k=5),
            ivf_topk(
                embs, query_ids=list(range(10)), k=5,
                n_centroids=16, n_probe=4,
            ),
            k=5,
        )

    q["ann_recall_ivf"] = ann_recall_ivf

    def ann_pq_topk(spark, sf_dir):
        # product quantization (Jégou 2011): m=4 subspaces x ks=8
        # codewords, deterministic md5-seeded codebooks, asymmetric
        # distance (integer LUT sum) ranking — hash-gated because every
        # per-subspace distance is 1e7-fixed-point before any sum
        from binlog_processer_spark.operators.similarity import pq_topk

        return pq_topk(
            _embs(spark, sf_dir), query_ids=list(range(10)), k=5,
            m=4, ks=8,
        )

    q["ann_pq_topk"] = ann_pq_topk

    def ann_recall_pq(spark, sf_dir):
        # same gate, PQ arm: recall@5 of the ADC ranking vs exact cosine
        from binlog_processer_spark.operators.similarity import (
            pq_topk,
            topk_recall,
        )

        embs = _embs(spark, sf_dir)
        return topk_recall(
            cosine_topk(embs, query_ids=list(range(10)), k=5),
            pq_topk(embs, query_ids=list(range(10)), k=5, m=4, ks=8),
            k=5,
        )

    q["ann_recall_pq"] = ann_recall_pq

    def ann_blas_topk(spark, sf_dir):
        # gated on the RANK SET (query_id, vec_id, rank) — the float-origin
        # score column is dropped: numpy matmul and the SQL fold sum in
        # different orders, so last-bit score differences are possible, but
        # the basis-point-rounded ORDERING (tie-broken by vec_id on both
        # sides, including inside each batch's partial top-k) is identical
        from binlog_processer_spark.operators.similarity import cosine_topk_np

        return cosine_topk_np(
            _embs(spark, sf_dir), query_ids=list(range(10)), k=10
        ).select("query_id", "vec_id", "rank")

    q["ann_blas_topk"] = ann_blas_topk

    def dedup_embedding_cosine(spark, sf_dir):
        # embeddings are synthetic-random (no natural near-dups), so plant
        # deterministic perturbed clones (vec_id%10==0 → +100000, every
        # coordinate +0.01) and detect them; the oracle derives the same
        # augmented set, so recall of the LSH bucket join is compared exactly
        emb = _embs(spark, sf_dir)
        orig = emb.select(
            "vec_id", F.expr("cast(embedding as array<double>)").alias("embedding")
        )
        dup = emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.expr(
                "transform(embedding, x -> cast(x as double) + 0.01D)"
            ).alias("embedding"),
        )
        return near_dup_pairs(orig.unionByName(dup), threshold_bp=9000)

    q["dedup_embedding_cosine"] = dedup_embedding_cosine

    def dedup_semantic_clustered(spark, sf_dir):
        # SemDeDup: same planted-clone augmentation as
        # dedup_embedding_cosine, but candidates come from shared IVF
        # clusters instead of shared LSH bands — the oracle mirrors the
        # clustering exactly, so the cluster-boundary miss set matches too
        from binlog_processer_spark.operators.similarity import (
            semdedup_pairs,
        )

        emb = _embs(spark, sf_dir)
        orig = emb.select(
            "vec_id",
            F.expr("cast(embedding as array<double>)").alias("embedding"),
        )
        dup = emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.expr(
                "transform(embedding, x -> cast(x as double) + 0.01D)"
            ).alias("embedding"),
        )
        return semdedup_pairs(
            orig.unionByName(dup), n_centroids=16, threshold_bp=9000
        )

    q["dedup_semantic_clustered"] = dedup_semantic_clustered
    q["text_token_counts"] = lambda s, d: token_count_cols(_docs(s, d))
    q["text_quality"] = lambda s, d: quality_scores(_docs(s, d))

    def text_filter_funnel(spark, sf_dir):
        # C4/Gopher-style cascade funnel report: one corpus pass, one row
        # per stage (marginal rejects + cumulative survivors)
        from binlog_processer_spark.functions.text import filter_funnel

        return filter_funnel(_docs(spark, sf_dir))

    q["text_filter_funnel"] = text_filter_funnel

    def text_filter_kept(spark, sf_dir):
        # the cascade's keep decision applied to the corpus
        from binlog_processer_spark.functions.text import (
            apply_filter_funnel,
        )

        return apply_filter_funnel(_docs(spark, sf_dir)).select(
            "doc_id", "source"
        )

    q["text_filter_kept"] = text_filter_kept
    q["text_lang_id"] = lambda s, d: lang_id(_docs(s, d))
    q["text_fingerprints"] = lambda s, d: fingerprints(_docs(s, d))

    # ------------------------------------------------------------------
    # structured-streaming + multimodal surfaces
    # ------------------------------------------------------------------

    def _stream_raw_dir(spark, sf_dir, parts=1):
        """Serialized corpus (uncorrupted) as a stream source. Default:
        ONE file → one micro-batch, so batch-local window semantics
        equal the batch pipeline's. ``parts > 1`` splits into that many
        files for rate-limited multi-batch drains (which rows land in
        which batch is then arbitrary — only order-insensitive mergeable
        state may rely on it)."""
        import tempfile

        d = tempfile.mkdtemp(prefix="blp_stream_")
        raw = _corpus(spark, sf_dir).select(serialize_expr().alias("raw"))
        raw = raw.repartition(parts) if parts > 1 else raw.coalesce(1)
        raw.write.mode("overwrite").parquet(d + "/raw")
        return d

    def streaming_sink_counts(spark, sf_dir):
        from binlog_processer_spark.streaming.stream_pipeline import (
            merged_stream_counts,
            run_streaming_pipeline,
        )

        d = _stream_raw_dir(spark, sf_dir)
        table = run_streaming_pipeline(
            spark, d + "/raw", _routing(spark, sf_dir), d + "/out"
        )
        return merged_stream_counts(spark, table).withColumn(
            "part_date", F.col("part_date").cast("timestamp")
        )

    q["streaming_sink_counts"] = streaming_sink_counts

    def streaming_running_totals(spark, sf_dir):
        from binlog_processer_spark.streaming.stream_pipeline import (
            streaming_running_counts,
        )

        d = _stream_raw_dir(spark, sf_dir)
        return streaming_running_counts(
            spark, d + "/raw", query_name="q_running_counts"
        )

    q["streaming_running_totals"] = streaming_running_totals

    def streaming_stateful_totals(spark, sf_dir):
        from binlog_processer_spark.functions.parse import parse_raw as pr
        from binlog_processer_spark.streaming.stateful import (
            stateful_running_counts,
        )

        d = _stream_raw_dir(spark, sf_dir)
        raw = spark.readStream.schema("raw string").parquet(d + "/raw")
        good = pr(raw).filter(F.col("status") == "OK")
        out = stateful_running_counts(good)
        sq = (
            out.writeStream.format("memory")
            .queryName("q_stateful_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return spark.table("q_stateful_totals").select(
            "source", "insert_cnt", "update_cnt", "delete_cnt", "max_commit_ts"
        )

    q["streaming_stateful_totals"] = streaming_stateful_totals

    def streaming_windowed_histogram(spark, sf_dir):
        """Event-time tumbling windows + watermark, append mode: only
        windows CLOSED by the final watermark (max commit_ts − 2h) emit —
        the oracle mirrors that cutoff exactly."""
        from binlog_processer_spark.functions.parse import parse_raw as pr
        from binlog_processer_spark.streaming.windowed import (
            windowed_op_counts_stream,
        )

        d = _stream_raw_dir(spark, sf_dir)
        raw = spark.readStream.schema("raw string").parquet(d + "/raw")
        good = pr(raw).filter(F.col("status") == "OK")
        out = windowed_op_counts_stream(good)
        sq = (
            out.writeStream.format("memory")
            .queryName("q_windowed_histogram")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return spark.table("q_windowed_histogram")

    q["streaming_windowed_histogram"] = streaming_windowed_histogram

    def streaming_session_stats(spark, sf_dir):
        """Native session_window under a watermark, append mode: only
        sessions whose end (last event + gap) the final watermark passed
        emit — the oracle mirrors the relational sessionization plus that
        cutoff."""
        from binlog_processer_spark.functions.parse import parse_raw as pr
        from binlog_processer_spark.streaming.windowed import (
            session_counts_stream,
        )

        d = _stream_raw_dir(spark, sf_dir)
        raw = spark.readStream.schema("raw string").parquet(d + "/raw")
        good = pr(raw).filter(F.col("status") == "OK")
        out = session_counts_stream(good)
        sq = (
            out.writeStream.format("memory")
            .queryName("q_session_stats")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return spark.table("q_session_stats")

    q["streaming_session_stats"] = streaming_session_stats

    def streaming_dedup_ingest(spark, sf_dir):
        """At-least-once delivery: one whole binlog segment (every
        file_id ending '-f2') is re-delivered as a second raw file;
        dropDuplicatesWithinWatermark on the event identity must make
        the per-source totals replay-invariant (oracle = corpus with no
        replay)."""
        from binlog_processer_spark.functions.parse import parse_raw as pr
        from binlog_processer_spark.streaming.dedup import (
            dedup_ingest_stream,
        )
        import tempfile

        d = tempfile.mkdtemp(prefix="blp_stream_dedup_")
        c = _corpus(spark, sf_dir)
        c.select(serialize_expr().alias("raw")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d + "/raw")
        c.filter(F.col("file_id").endswith("-f2")).select(
            serialize_expr().alias("raw")
        ).coalesce(1).write.mode("append").parquet(d + "/raw")

        raw = spark.readStream.schema("raw string").parquet(d + "/raw")
        good = pr(raw).filter(F.col("status") == "OK")
        sq = (
            dedup_ingest_stream(good)
            .writeStream.format("memory")
            .queryName("q_dedup_ingest")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return spark.table("q_dedup_ingest").groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("event_seq").cast("bigint").alias("sum_seq"),
        )

    q["streaming_dedup_ingest"] = streaming_dedup_ingest

    def streaming_final_state(spark, sf_dir):
        # streaming CDC apply: 4 raw files drained one per micro-batch
        # (arbitrary file order), monotone-merged into a keyed state
        # table — must equal batch final_state exactly, tombstones kept
        import tempfile

        from binlog_processer_spark.streaming.upsert import (
            run_streaming_upsert,
        )

        d = tempfile.mkdtemp(prefix="blp_upsert_")
        _corpus(spark, sf_dir).select(
            serialize_expr().alias("raw")
        ).repartition(4).write.mode("overwrite").parquet(d + "/raw")
        table = run_streaming_upsert(
            spark, d + "/raw", _routing(spark, sf_dir), d + "/out",
            max_files_per_trigger=1,
        )
        return table.read(spark).select(
            "database_name", "table_name", "doc_id", "final_op", "final_ts",
            _md5_arr("final_tokens").alias("final_tokens_md5"),
            F.size("final_tokens").alias("final_n_tok"),
            "final_seq",
        )

    q["streaming_final_state"] = streaming_final_state

    def streaming_ack_lag(spark, sf_dir):
        """Stream-stream INTERVAL join (the ad-attribution shape from the
        Structured Streaming guide): change events paired with synthesized
        replica apply-acks — ack lag = (event_seq % 7) minutes, docs with
        doc_id % 11 == 3 never ack — under the bound ack_ts ∈ [commit_ts,
        commit_ts + 5 min], so lag-6 acks must NOT attribute. One
        availableNow batch per side keeps inner-join emission complete
        and deterministic; tests/test_streaming_joins.py covers the
        cross-micro-batch state case."""
        import tempfile

        from binlog_processer_spark.streaming.joins import (
            ack_lag_join_stream,
        )

        d = tempfile.mkdtemp(prefix="blp_ackjoin_")
        k = _kept(spark, sf_dir).select(
            "database_name", "table_name", "doc_id", "event_seq", "commit_ts"
        )
        k.coalesce(1).write.mode("overwrite").parquet(d + "/events")
        k.filter(F.expr("cast(doc_id as bigint) % 11 <> 3")).select(
            "database_name", "table_name", "doc_id", "event_seq",
            F.expr(
                "commit_ts + make_interval(0,0,0,0,0,"
                " cast(event_seq % 7 as int), 0)"
            ).alias("ack_ts"),
        ).coalesce(1).write.mode("overwrite").parquet(d + "/acks")
        ev = spark.readStream.schema(
            "database_name string, table_name string, doc_id string, "
            "event_seq long, commit_ts timestamp"
        ).parquet(d + "/events")
        ak = spark.readStream.schema(
            "database_name string, table_name string, doc_id string, "
            "event_seq long, ack_ts timestamp"
        ).parquet(d + "/acks")
        sq = (
            ack_lag_join_stream(ev, ak, max_lag_min=5)
            .writeStream.format("memory")
            .queryName("q_ack_lag")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return spark.table("q_ack_lag").groupBy(
            "database_name", "table_name"
        ).agg(
            F.count("*").cast("bigint").alias("n_acked"),
            F.sum("lag_s").cast("bigint").alias("sum_lag_s"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_acked"),
        )

    q["streaming_ack_lag"] = streaming_ack_lag

    def streaming_unacked(spark, sf_dir):
        """Left-outer arm of the stream-stream interval join: events
        whose ack never arrives inside the 5-minute window emit with
        null ack columns once the watermark closes their join window —
        the streaming form of the batch reconcile's missing-row probe
        (TiDBCompareByFile.java existence arm). Same ack synthesis as
        streaming_ack_lag, so unacked = never-acked docs (doc_id%11==3)
        plus out-of-window acks (event_seq%7==6). Deterministic flush:
        two trailing watermark-heartbeat files per side (far-future
        sentinel, maxFilesPerTrigger=1) close every real window in
        later micro-batches; each heartbeat pair matches itself at lag
        0, so sentinels only ever emit as MATCHED rows, never as
        unacked (the filter below drops them defensively anyway)."""
        import datetime
        import tempfile
        import time

        from binlog_processer_spark.streaming.joins import (
            ack_lag_join_stream,
        )

        d = tempfile.mkdtemp(prefix="blp_ackouter_")
        k = _kept(spark, sf_dir).select(
            "database_name", "table_name", "doc_id", "event_seq", "commit_ts"
        )
        k.coalesce(1).write.mode("overwrite").parquet(d + "/events")
        k.filter(F.expr("cast(doc_id as bigint) % 11 <> 3")).select(
            "database_name", "table_name", "doc_id", "event_seq",
            F.expr(
                "commit_ts + make_interval(0,0,0,0,0,"
                " cast(event_seq % 7 as int), 0)"
            ).alias("ack_ts"),
        ).coalesce(1).write.mode("overwrite").parquet(d + "/acks")
        hb0 = k.agg(F.max("commit_ts")).first()[0]
        for days in (1, 2):
            time.sleep(1.1)  # file stream orders by mtime; hb batches last
            hb = [("__wm__", "__wm__", "__wm__", -1,
                   hb0 + datetime.timedelta(days=days))]
            spark.createDataFrame(
                hb,
                "database_name string, table_name string, doc_id string,"
                " event_seq long, commit_ts timestamp",
            ).coalesce(1).write.mode("append").parquet(d + "/events")
            spark.createDataFrame(
                hb,
                "database_name string, table_name string, doc_id string,"
                " event_seq long, ack_ts timestamp",
            ).coalesce(1).write.mode("append").parquet(d + "/acks")
        ev = spark.readStream.schema(
            "database_name string, table_name string, doc_id string, "
            "event_seq long, commit_ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(d + "/events")
        ak = spark.readStream.schema(
            "database_name string, table_name string, doc_id string, "
            "event_seq long, ack_ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(d + "/acks")
        sq = (
            ack_lag_join_stream(ev, ak, max_lag_min=5, how="left_outer")
            .writeStream.format("memory")
            .queryName("q_ack_outer")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return (
            spark.table("q_ack_outer")
            .filter(F.col("ack_ts").isNull() & (F.col("doc_id") != "__wm__"))
            .groupBy("database_name", "table_name")
            .agg(
                F.count("*").cast("bigint").alias("n_unacked"),
                F.sum("event_seq").cast("bigint").alias("sum_seq_unacked"),
                F.countDistinct("doc_id").cast("bigint").alias(
                    "n_docs_unacked"
                ),
            )
        )

    q["streaming_unacked"] = streaming_unacked

    def asof_checkpoints(spark, sf_dir):
        """Fact-to-fact AS-OF join (operators/asof.py): every kept event
        attributed to the latest checkpoint row (events with
        event_seq%37==0, deduped to one per key+ts) at-or-before its
        commit_ts, within a 1-day tolerance — the fact-sized form of the
        reference's TreeMap floorEntry lookup (SchemaUtils.java), where
        the right side is too big to broadcast. Single hash exchange,
        no join node (pinned by tests/test_asof.py)."""
        from binlog_processer_spark.operators.asof import asof_join

        k = _kept(spark, sf_dir).select(
            "database_name", "table_name", "doc_id", "event_seq", "commit_ts"
        )
        ck = (
            k.filter(F.col("event_seq") % 37 == 0)
            .groupBy("database_name", "table_name", "commit_ts")
            .agg(F.max("event_seq").alias("ck_seq"))
            .withColumnRenamed("commit_ts", "ck_ts")
        )
        j = asof_join(
            k, ck,
            on=["database_name", "table_name"],
            left_ts="commit_ts", right_ts="ck_ts",
            right_cols=["ck_seq"], tolerance_s=86400,
        )
        return j.groupBy("database_name", "table_name").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.count("ck_seq").cast("bigint").alias("n_matched"),
            F.coalesce(F.sum("ck_seq"), F.lit(0)).cast("bigint").alias(
                "sum_ck_seq"
            ),
            F.coalesce(
                F.sum(
                    F.unix_timestamp("commit_ts") - F.unix_timestamp("asof_ts")
                ),
                F.lit(0),
            ).cast("bigint").alias("sum_lag_s"),
        )

    q["asof_checkpoints"] = asof_checkpoints

    def scd2_history_q(spark, sf_dir):
        """SCD2 build (operators/scd2.py): one versioned row per
        non-Delete event, validity closed by the NEXT event of the same
        key (Deletes close their predecessor and open nothing). Single
        window, single hash exchange (pinned by tests/test_scd2.py)."""
        from binlog_processer_spark.operators.scd2 import scd2_history

        k = _kept(spark, sf_dir).select(
            "database_name", "table_name", "doc_id", "event_seq", "op",
            "commit_ts",
        )
        return scd2_history(k).select(
            "database_name", "table_name", "doc_id", "event_seq",
            "valid_from", "valid_to", "is_current",
        )

    q["scd2_history"] = scd2_history_q

    def scd2_asof(spark, sf_dir):
        """Point-in-time read over the SCD2 history: the dimension state
        as of (max commit_ts − 36 h) — a plain interval filter, no window
        or join at read time."""
        from binlog_processer_spark.operators.scd2 import (
            as_of_state,
            scd2_history,
        )

        k = _kept(spark, sf_dir).select(
            "database_name", "table_name", "doc_id", "event_seq", "op",
            "commit_ts",
        )
        t = k.agg(
            (F.max("commit_ts") - F.expr("INTERVAL 36 HOURS")).alias("t")
        ).first()["t"]
        return as_of_state(scd2_history(k), t).select(
            "database_name", "table_name", "doc_id", "event_seq",
            "valid_from",
        )

    q["scd2_asof"] = scd2_asof

    def probe_point_lookup(spark, sf_dir):
        """Bloom-file-index point lookups: documents land UNCLUSTERED in a
        snapshot table with a doc_id bloom (every file spans the whole key
        domain — min/max zone maps prune nothing), then each probe key is
        served by a file-pruned read_where scan. The oracle is the plain
        filter: pruning must never change results, only the files opened
        (tests/test_bloom.py pins that it does prune)."""
        import tempfile

        from binlog_processer_spark.storage.table import SnapshotTable

        docs = _docs(spark, sf_dir)
        d = tempfile.mkdtemp(prefix="blp_bloom_")
        t = SnapshotTable(d + "/docs")
        t.write(
            docs.select("doc_id", "source", "text").repartition(8, "doc_id"),
            bloom_columns=["doc_id"],
        )
        keys = sorted(
            r.doc_id
            for r in docs.filter("doc_id % 97 = 13").select("doc_id").collect()
        )
        parts = [
            t.read_where(spark, {"doc_id": (int(k), int(k))}) for k in keys
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(
            "doc_id", "source", F.md5("text").alias("text_md5")
        )

    q["probe_point_lookup"] = probe_point_lookup

    def probe_zorder(spark, sf_dir):
        """Z-order clustering (storage/zorder.py): documents land
        Morton-clustered on (doc_id, n_chars), then three zone-map-pruned
        scans probe each dimension ALONE plus the 2-D box — the layouts
        a lexicographic sort cannot serve (its second column never
        prunes; tests/test_zorder.py pins the pruning asymmetry). The
        oracle is the plain filter: clustering and pruning must never
        change results, only the files opened."""
        import tempfile

        from binlog_processer_spark.storage.table import SnapshotTable

        sel = _docs(spark, sf_dir).select(
            "doc_id", "source", "text", F.length("text").alias("n_chars")
        )
        t = SnapshotTable(tempfile.mkdtemp(prefix="blp_z_") + "/docs")
        t.write(sel, zorder_by=["doc_id", "n_chars"])
        probes = {
            "doc_id": {"doc_id": (10, 99)},
            "n_chars": {"n_chars": (50, 300)},
            "box": {"doc_id": (100, 399), "n_chars": (100, 500)},
        }
        parts = [
            t.read_where(spark, pred).withColumn("probe", F.lit(name))
            for name, pred in probes.items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(
            "probe", "doc_id", "source", "n_chars",
            F.md5("text").alias("text_md5"),
        )

    q["probe_zorder"] = probe_zorder

    def multimodal_features(spark, sf_dir):
        from binlog_processer_spark.multimodal import (
            extract_features,
            synthesize_media,
        )

        feats = extract_features(synthesize_media(_docs(spark, sf_dir)))
        # feat holds byte-histogram mass fractions (count/n_bytes, float32);
        # round(x * n_bytes) recovers the integer bin counts exactly (counts
        # << 2^24), giving an exactly-comparable digest for the oracle
        return feats.select(
            "doc_id", "modality", "n_bytes", "checksum", "width", "height",
            F.expr(
                "md5(concat_ws(',', transform(feat,"
                " x -> cast(round(x * n_bytes) as int))))"
            ).alias("feat_md5"),
        )

    q["multimodal_features"] = multimodal_features

    def multimodal_real_decode(spark, sf_dir):
        # REAL decode gate: payloads are valid binary PPM images
        # (multimodal.encode_ppm) whose pixels are a closed-form function
        # of doc_id (media_pixels), decoded back by the pure-numpy
        # fake=False kernel — the oracle recomputes width/height/n_bytes/
        # pixel-checksum from the same closed form in SQL, so a hash match
        # proves actual pixel decoding, not plumbing
        from binlog_processer_spark.multimodal import (
            extract_features,
            synthesize_media,
        )

        media = synthesize_media(_docs(spark, sf_dir), codec="ppm")
        return extract_features(media, fake=False).select(
            "doc_id", "n_bytes", "checksum", "width", "height"
        )

    q["multimodal_real_decode"] = multimodal_real_decode

    def multimodal_audio_decode(spark, sf_dir):
        # REAL audio decode gate: payloads are valid PCM 16-bit mono WAV
        # files (multimodal.encode_wav) whose samples are a closed-form
        # function of doc_id (media_samples), decoded back by the
        # pure-numpy fake=False kernel — the oracle recomputes
        # n_bytes/sample-sum/n_samples/rate from the same closed form in
        # SQL, so a hash match proves actual sample decoding
        from binlog_processer_spark.multimodal import (
            extract_features,
            synthesize_media,
        )

        media = synthesize_media(_docs(spark, sf_dir), codec="wav")
        return extract_features(media, fake=False).select(
            "doc_id", "n_bytes", "checksum", "width", "height"
        )

    q["multimodal_audio_decode"] = multimodal_audio_decode

    # --- round-4 late additions: quantile sketch, sketch rollup cube,
    # k-anonymity privacy audit, dense freshness timeline ---

    def sketch_quantiles_kmv(spark, sf_dir):
        # mergeable bottom-k-by-row-hash uniform sample; sequence-length
        # quantile estimates next to the exact order statistics
        from binlog_processer_spark.operators.sketch import (
            kmv_sample_quantiles,
        )

        return kmv_sample_quantiles(_kept(spark, sf_dir), k=128, qs=(50, 95))

    q["sketch_quantiles_kmv"] = sketch_quantiles_kmv

    def sketch_hll_rollup(spark, sf_dir):
        # distinct-token cube (table -> database -> global) merged from
        # the finest-grain HLL registers alone: one corpus pass total
        from binlog_processer_spark.operators.sketch import hll_rollup

        return hll_rollup(_kept(spark, sf_dir), b=10)

    q["sketch_hll_rollup"] = sketch_hll_rollup

    def privacy_k_anonymity(spark, sf_dir):
        # per-database k-anonymity audit over the quasi-identifier set
        # (database, table, op, commit day); risk_ppm = rows living in
        # below-k equivalence classes
        from binlog_processer_spark.operators.privacy import (
            k_anonymity_report,
        )

        return k_anonymity_report(_kept(spark, sf_dir), k=5)

    q["privacy_k_anonymity"] = privacy_k_anonymity

    def sink_op_pivot(spark, sf_dir):
        # wide-form per-sink op counters over the closed op vocabulary:
        # PIVOT as one deterministic map-side-combined aggregate
        return agg.sink_op_pivot(_kept(spark, sf_dir))

    q["sink_op_pivot"] = sink_op_pivot

    def sink_counts_rollup(spark, sf_dir):
        # exact (db, table) / (db) / grand-total counts in ONE rollup
        # aggregate — the exact counterpart of sketch_hll_rollup's cube
        return agg.sink_counts_rollup(_kept(spark, sf_dir))

    q["sink_counts_rollup"] = sink_counts_rollup

    def drift_psi(spark, sf_dir):
        # Population Stability Index per source vs pooled complement
        # (industry-standard drift score next to drift_js's JSD)
        from binlog_processer_spark.operators.drift import psi_drift

        return psi_drift(_kept(spark, sf_dir))

    q["drift_psi"] = drift_psi

    def partition_splits(spark, sf_dir):
        # sample-based range-partitioner boundaries (RangePartitioner's
        # technique as a queryable planning report) with exact audit
        from binlog_processer_spark.operators.sketch import (
            partition_split_points,
        )

        return partition_split_points(
            _kept(spark, sf_dir), n_partitions=8, k=128
        )

    q["partition_splits"] = partition_splits

    def timeline_densify(spark, sf_dir):
        # zero-filled per-sink daily calendar with forward-filled
        # watermark: absent days surface as events=0 rows; day rides as
        # a timestamp (driver canon has no date dtype — same convention
        # as part_date above)
        return agg.timeline_densify(_kept(spark, sf_dir)).withColumn(
            "day", F.col("day").cast("timestamp")
        )

    q["timeline_densify"] = timeline_densify

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    notcorrupt = "(doc_num*5 + (event_seq % 4)) % 211 <> 7"

    o["parse_roundtrip"] = _oracle_full(
        f"SELECT doc_id, source, op, event_seq, commit_ts, file_id, bucket,"
        f" n_tok, {_duck_md5_arr('tokens')} AS tokens_md5"
        f" FROM corpus WHERE {notcorrupt}"
    )
    o["parse_regex_roundtrip"] = o["parse_roundtrip"]
    o["quarantine_counts"] = _oracle_full(
        f"SELECT 'PARSE_ERROR' AS status, count(*) AS cnt FROM corpus"
        f" WHERE NOT ({notcorrupt})"
    )
    o["routing_enrich"] = _oracle_full(
        "SELECT doc_id, event_seq, op, db_instance, database_name, table_name,"
        " route, ignored FROM corpus c JOIN routing r USING (table_key)"
    )
    o["schema_asof"] = _oracle_full(
        "SELECT doc_id, event_seq, table_key, schema_fingerprint FROM ("
        " SELECT c.doc_id, c.event_seq, c.table_key, s.schema_fingerprint,"
        "  row_number() OVER (PARTITION BY c.table_key, c.event_seq"
        "   ORDER BY s.valid_from_ts DESC) AS rn"
        " FROM corpus c JOIN schema_dim s USING (table_key)"
        " WHERE s.valid_from_ts <= c.commit_ts) WHERE rn = 1"
    )
    # both generations re-derived relationally: v1 rows widened + null note,
    # v2 rows as appended — what the migrated table must read back as
    o["schema_migration"] = _oracle_full(
        "SELECT doc_id, event_seq, cast(n_tok AS bigint) AS n_tok,"
        " cast(cast((doc_num*13 + r) % 997 AS float) AS double) AS score,"
        " CASE WHEN event_seq % 2 = 1 THEN 'v2-' || doc_id END AS note"
        " FROM corpus"
    )
    o["schema_evolution"] = _oracle_full(
        "SELECT doc_id, event_seq, schema_fingerprint,"
        " cast(n_tok AS bigint) AS n_tok,"
        " cast(cast((doc_num*13 + r) % 997 AS float) AS double) AS score"
        " FROM ("
        " SELECT c.doc_id, c.event_seq, c.doc_num, c.r, c.n_tok,"
        "  s.schema_fingerprint,"
        "  row_number() OVER (PARTITION BY c.table_key, c.event_seq"
        "   ORDER BY s.valid_from_ts DESC) AS rn"
        " FROM corpus c JOIN schema_dim s USING (table_key)"
        " WHERE s.valid_from_ts <= c.commit_ts) WHERE rn = 1"
    )
    o["ignored_counts"] = _oracle_full(
        "SELECT database_name, table_name, count(*) AS ignored_cnt"
        " FROM corpus c JOIN routing r USING (table_key)"
        " WHERE ignored GROUP BY 1, 2",
    )
    o["soft_delete"] = _oracle_full(
        "SELECT database_name, table_name, event_seq, op FROM survivors",
        _X_ENRICHED,
    )
    o["image_selection"] = _oracle_full(
        "SELECT doc_id, event_seq, op, doc_id AS img_doc_id, n_tok AS img_n_tok,"
        f" {_duck_md5_arr('tokens')} AS img_tokens_md5,"
        " (op = 'Create') AS before_is_null,"
        " (op = 'Delete') AS after_is_null FROM kept",
        _X_ENRICHED,
    )
    # DuckDB sum() yields HUGEINT (object/float in pandas) while Spark's sum
    # is bigint — every sum must be cast so the driver's value hash compares
    sink_counts_sql = (
        "SELECT tree, db_instance, database_name, table_name,"
        " cast(part_date AS timestamp) AS part_date,"
        " cast(sum(CASE WHEN op = 'Create' THEN 1 ELSE 0 END) AS bigint) AS insert_cnt,"
        " cast(sum(CASE WHEN op = 'Update' THEN 1 ELSE 0 END) AS bigint) AS update_cnt,"
        " cast(sum(CASE WHEN op = 'Delete' THEN 1 ELSE 0 END) AS bigint) AS delete_cnt"
        " FROM routed GROUP BY 1, 2, 3, 4, 5"
    )
    o["sink_counts"] = _oracle_full(sink_counts_sql, _X_ENRICHED)
    o["sink_counts_salted"] = _oracle_full(sink_counts_sql, _X_ENRICHED)
    # compaction must be row-invariant: the post-compaction table answers
    # the exact same primary aggregate
    o["compact_roundtrip"] = _oracle_full(sink_counts_sql, _X_ENRICHED)
    # run-health report: the corpus-deterministic counter slice of
    # <wh>/process_report (operators/report.py DETERMINISTIC_METRICS).
    # Unlike the shared `routed` CTE (which models the helper pipeline
    # over the CLEAN corpus), the REAL run quarantines corrupt events
    # BEFORE routing — so this oracle re-derives routed rows from the
    # corruption-filtered corpus (the quarantined rows' signs also drop
    # out of the soft-delete window, exactly as in the real pipeline).
    # quarantine_ppm uses integer floor division on both engines.
    _rpt_ctes = f"""
genriched AS (
  SELECT c.*, r.database_name, r.table_name, r.ignored
  FROM corpus c JOIN routing r USING (table_key)
  WHERE {notcorrupt}),
gkept AS (SELECT * FROM genriched
          WHERE NOT ignored AND database_name NOT IN ('mysql', 'infra')),
gsurv AS (
  SELECT * EXCLUDE (archive_flag) FROM (
    SELECT k.*,
           last_value(sign IGNORE NULLS) OVER (
             PARTITION BY database_name, table_name ORDER BY event_seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS archive_flag
    FROM gkept k) t
  WHERE NOT (op = 'Delete' AND coalesce(archive_flag, 0) = 1)),
grouted AS (
  SELECT s.*, t.tree
  FROM gsurv s CROSS JOIN (VALUES ('create'), ('update')) t(tree))
"""
    o["process_report"] = _oracle_full(
        "SELECT metric, value FROM ("
        " SELECT 'files_processed' AS metric,"
        "  cast(count(DISTINCT file_id) AS bigint) AS value FROM grouted"
        " UNION ALL SELECT 'rows_routed', cast(count(*) AS bigint)"
        "  FROM grouted"
        f" UNION ALL SELECT 'rows_failed', cast(count(*) AS bigint)"
        f"  FROM corpus WHERE NOT ({notcorrupt})"
        " UNION ALL SELECT 'quarantine_ppm',"
        "  cast((f * 1000000) // (r // 2 + f) AS bigint) FROM"
        f"  (SELECT (SELECT count(*) FROM corpus WHERE NOT ({notcorrupt}))"
        "   AS f, (SELECT count(*) FROM grouted) AS r)"
        " UNION ALL SELECT 'sinks',"
        "  cast(count(DISTINCT (database_name, table_name)) AS bigint)"
        "  FROM grouted"
        " UNION ALL SELECT 'trees', cast(count(DISTINCT tree) AS bigint)"
        "  FROM grouted"
        ") ORDER BY metric",
        _rpt_ctes,
    )
    # the delta read returns exactly the second generation's rows
    o["incremental_scan"] = _oracle_full(
        "SELECT doc_id, event_seq, op, commit_ts FROM corpus"
        " WHERE event_seq % 2 = 1"
    )
    # incrementally-maintained counts must equal the full recompute
    o["incremental_rollup"] = _oracle_full(
        "SELECT database_name, table_name,"
        " cast(sum(CASE WHEN op = 'Create' THEN 1 ELSE 0 END) AS bigint)"
        "  AS insert_cnt,"
        " cast(sum(CASE WHEN op = 'Update' THEN 1 ELSE 0 END) AS bigint)"
        "  AS update_cnt,"
        " cast(sum(CASE WHEN op = 'Delete' THEN 1 ELSE 0 END) AS bigint)"
        "  AS delete_cnt"
        " FROM kept GROUP BY 1, 2",
        _X_ENRICHED,
    )
    o["file_event_counts"] = _oracle_full(
        "SELECT file_id, count(*) AS total_cnt,"
        " cast(sum(CASE WHEN op = 'Create' THEN 1 ELSE 0 END) AS bigint) AS insert_cnt,"
        " cast(sum(CASE WHEN op = 'Update' THEN 1 ELSE 0 END) AS bigint) AS update_cnt,"
        " cast(sum(CASE WHEN op = 'Delete' THEN 1 ELSE 0 END) AS bigint) AS delete_cnt"
        " FROM corpus GROUP BY 1"
    )
    o["last_wins"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, op, event_seq, commit_ts"
        " FROM (SELECT k.*, row_number() OVER (PARTITION BY database_name,"
        " table_name, doc_id ORDER BY event_seq DESC) AS rn FROM kept k)"
        " WHERE rn = 1",
        _X_ENRICHED,
    )
    o["final_state"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, final_op, final_ts,"
        f" {_duck_md5_arr('final_tokens')} AS final_tokens_md5,"
        " cast(len(final_tokens) AS int) AS final_n_tok, final_seq"
        " FROM final_state",
        _X_ENRICHED + "," + _X_FINAL_STATE,
    )
    o["watermarks"] = _oracle_full(
        "SELECT database_name, table_name, max(commit_ts) AS max_commit_ts"
        " FROM kept GROUP BY 1, 2",
        _X_ENRICHED,
    )
    # gap-based sessions re-derived relationally (lag → break flag →
    # running sum); strict > 240min matches session_window, which merges
    # touching windows (an event at exactly last+gap extends the session)
    _X_SESS = """
sess AS (
  SELECT *, cast(sum(brk) OVER (PARTITION BY database_name, table_name,
         doc_id ORDER BY commit_ts, event_seq
         ROWS UNBOUNDED PRECEDING) AS bigint) AS session_id
  FROM (
    SELECT k.*, CASE WHEN cast(epoch(commit_ts) AS bigint) -
           cast(epoch(lag(commit_ts) OVER (PARTITION BY database_name,
           table_name, doc_id ORDER BY commit_ts, event_seq)) AS bigint)
           > 240*60 THEN 1 ELSE 0 END AS brk
    FROM kept k) t)
"""
    o["session_stats"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, session_id,"
        " count(*) AS n_events, min(commit_ts) AS session_start,"
        " max(commit_ts) AS session_end,"
        " cast(epoch(max(commit_ts)) - epoch(min(commit_ts)) AS bigint)"
        " AS duration_s"
        " FROM sess GROUP BY 1, 2, 3, 4",
        _X_ENRICHED + "," + _X_SESS,
    )
    o["session_windows"] = _oracle_full(
        "SELECT database_name, table_name, doc_id,"
        " count(*) AS n_events, min(commit_ts) AS session_start,"
        " max(commit_ts) AS session_end"
        " FROM sess GROUP BY database_name, table_name, doc_id, session_id",
        _X_ENRICHED + "," + _X_SESS,
    )
    # per-source n_tok bucket histogram (width 4, clamp at bucket 31)
    _BKT = "cast(least(floor(n_tok / 4), 31) AS int)"
    o["drift_histogram"] = _oracle_full(
        f"SELECT source, {_BKT} AS bucket, count(*) AS cnt"
        " FROM kept GROUP BY 1, 2",
        _X_ENRICHED,
    )
    # Jensen-Shannon divergence of each source's bucket distribution vs
    # the pooled complement, in ppm (operators/drift.py mirror): dense
    # source×bucket grid so q-only buckets still contribute q·ln 2
    _X_DRIFT = f"""
hist AS (SELECT source, {_BKT} AS bucket, count(*) AS cnt
         FROM kept GROUP BY 1, 2),
by_src AS (SELECT source, sum(cnt) AS n_s FROM hist GROUP BY 1),
by_bkt AS (SELECT bucket, sum(cnt) AS g_b FROM hist GROUP BY 1),
tot AS (SELECT sum(cnt) AS n_total FROM hist),
grid AS (
  SELECT s.source, b.bucket, s.n_s, b.g_b, t.n_total,
         coalesce(h.cnt, 0) AS cnt
  FROM by_src s CROSS JOIN by_bkt b CROSS JOIN tot t
  LEFT JOIN hist h ON h.source = s.source AND h.bucket = b.bucket)
"""
    _P = "(cnt / n_s)"
    _Q = "((g_b - cnt) / (n_total - n_s))"
    o["drift_js"] = _oracle_full(
        "SELECT source, cast(round(sum("
        f" 0.5 * (CASE WHEN cnt > 0 THEN {_P} * ln(2 * {_P} / ({_P} + {_Q}))"
        "  ELSE 0 END"
        f" + CASE WHEN g_b - cnt > 0 THEN {_Q} * ln(2 * {_Q} / ({_P} + {_Q}))"
        "  ELSE 0 END)"
        ") * 1000000) AS bigint) AS jsd_ppm"
        " FROM grid GROUP BY source",
        _X_ENRICHED + "," + _X_DRIFT,
    )
    # Population Stability Index vs pooled complement, ppm; proportions
    # floored at 1e-4 (the standard zero-bucket guard) so vanished
    # buckets contribute large finite terms (operators/drift.py psi_drift)
    _PP = "greatest(cnt / n_s, 0.0001)"
    _QQ = "greatest((g_b - cnt) / (n_total - n_s), 0.0001)"
    o["drift_psi"] = _oracle_full(
        "SELECT source, cast(round(sum("
        f" ({_PP} - {_QQ}) * ln({_PP} / {_QQ})"
        ") * 1000000) AS bigint) AS psi_ppm"
        " FROM grid GROUP BY source",
        _X_ENRICHED + "," + _X_DRIFT,
    )
    # sample-based range-partitioner split points over n_tok: bottom-128
    # row sample (same canon as sketch_quantiles_kmv, pooled source),
    # lower-nearest-rank order statistic per split, exact audit joined
    # (sketch.py partition_split_points, B=8)
    o["partition_splits"] = _oracle_full(
        "SELECT est.split_idx, n_rows, k_used, est_split, exact_split,"
        " cast(abs(est_split - exact_split) AS bigint) AS abs_err"
        " FROM ("
        "  SELECT b.split_idx, cast(max(k_used) AS int) AS k_used,"
        "   cast(max(CASE WHEN vrk = floor((k_used-1)*b.split_idx/8)+1"
        "            THEN val END) AS bigint) AS est_split"
        "  FROM ("
        "   SELECT val,"
        "    row_number() OVER (ORDER BY val, event_seq) AS vrk,"
        "    count(*) OVER () AS k_used"
        "   FROM ("
        "    SELECT cast(n_tok AS bigint) AS val, event_seq,"
        "     row_number() OVER (ORDER BY h, event_seq) AS rk"
        "    FROM (SELECT n_tok, event_seq,"
        "          cast(('0x' || substr(md5(cast(event_seq AS varchar)),"
        "               1, 8)) AS ubigint) AS h"
        "          FROM kept))"
        "   WHERE rk <= 128) s"
        "  CROSS JOIN (SELECT g AS split_idx"
        "              FROM generate_series(1, 7) t(g)) b"
        "  GROUP BY b.split_idx) est"
        " JOIN ("
        "  SELECT b.split_idx, cast(max(n_rows) AS bigint) AS n_rows,"
        "   cast(max(CASE WHEN vrk = floor((n_rows-1)*b.split_idx/8)+1"
        "            THEN val END) AS bigint) AS exact_split"
        "  FROM ("
        "   SELECT cast(n_tok AS bigint) AS val,"
        "    row_number() OVER (ORDER BY n_tok, event_seq) AS vrk,"
        "    count(*) OVER () AS n_rows"
        "   FROM kept) f"
        "  CROSS JOIN (SELECT g AS split_idx"
        "              FROM generate_series(1, 7) t(g)) b"
        "  GROUP BY b.split_idx) ex USING (split_idx)"
        " ORDER BY split_idx",
        _X_ENRICHED,
    )
    # exact continuous quantiles (Spark percentile() ≡ quantile_cont),
    # published as centi-token bigints
    o["sink_token_percentiles"] = _oracle_full(
        "SELECT database_name, table_name,"
        " cast(round(quantile_cont(n_tok, 0.5) * 100) AS bigint) AS p50_c,"
        " cast(round(quantile_cont(n_tok, 0.95) * 100) AS bigint) AS p95_c,"
        " cast(round(quantile_cont(n_tok, 0.99) * 100) AS bigint) AS p99_c"
        " FROM kept GROUP BY 1, 2",
        _X_ENRICHED,
    )
    # token-level stats — integer-arithmetic support thresholds so both
    # engines agree with no float-ceil ambiguity (operators/tokens.py)
    o["token_heavy_hitters"] = _oracle_full(
        "SELECT token, cnt FROM ("
        " SELECT token, cast(count(*) AS bigint) AS cnt,"
        "        sum(count(*)) OVER () AS total_tok"
        " FROM (SELECT unnest(tokens) AS token FROM kept) GROUP BY token)"
        " WHERE cnt * 1000000 >= 2000 * total_tok",
        _X_ENRICHED,
    )
    o["token_merge_pairs"] = _oracle_full(
        "SELECT p1, p2, cast(count(*) AS bigint) AS cnt"
        " FROM (SELECT unnest(tokens[1:len(tokens)-1]) AS p1,"
        "              unnest(tokens[2:len(tokens)]) AS p2 FROM kept)"
        " GROUP BY 1, 2 ORDER BY cnt DESC, p1, p2 LIMIT 100",
        _X_ENRICHED,
    )
    # BPE trainer: generated chained-CTE replay of the driver merge loop
    # (one CTE round per merge; see _bpe_train_ctes). Parameters must
    # match the queries() entries exactly.
    o["token_bpe_merges"] = _bpe_merges_oracle(
        num_merges=64, min_count=2, max_words=65536
    )
    o["token_bpe_encode_stats"] = _bpe_encode_stats_oracle(
        num_merges=64, min_count=2, max_words=65536
    )
    # unigram trainer stages: seed inventory + quantized-model Viterbi
    o["token_unigram_seed"] = _unigram_seed_oracle(
        seed_size=512, min_count=2
    )
    o["token_unigram_viterbi_stats"] = _unigram_viterbi_stats_oracle(
        seed_size=512, min_count=2
    )
    o["token_doc_frequency"] = _oracle_full(
        "SELECT token, df_cnt FROM ("
        " SELECT token, cast(count(*) AS bigint) AS df_cnt,"
        "        (SELECT count(*) FROM kept) AS n_rows"
        " FROM (SELECT unnest(list_distinct(tokens)) AS token FROM kept)"
        " GROUP BY token)"
        " WHERE df_cnt * 1000000 >= 100000 * n_rows",
        _X_ENRICHED,
    )
    o["doc_idf_score"] = _oracle_full(
        "SELECT source, doc_id,"
        " cast(round(sum(ln(cast(n_rows AS double) / df_cnt)) * 1000)"
        "      AS bigint) AS idf_mc"
        " FROM (SELECT DISTINCT source, doc_id,"
        "              unnest(list_distinct(tokens)) AS token FROM kept) e"
        " JOIN (SELECT token, cast(count(*) AS bigint) AS df_cnt"
        "       FROM (SELECT unnest(list_distinct(tokens)) AS token"
        "             FROM kept) GROUP BY token) d USING (token)"
        " CROSS JOIN (SELECT count(*) AS n_rows FROM kept) t"
        " GROUP BY source, doc_id",
        _X_ENRICHED,
    )
    # per-column profile: one UNION ALL arm per profiled column, min/max
    # cast to varchar AFTER aggregation (mirrors operators/profile.py)
    _prof_arms = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, cast(count(*) AS bigint) AS n_rows,"
        f" cast(count(*) - count({c}) AS bigint) AS n_null,"
        f" cast(count(DISTINCT {c}) AS bigint) AS n_distinct,"
        f" cast(min({c}) AS varchar) AS min_s,"
        f" cast(max({c}) AS varchar) AS max_s FROM kept"
        for c in [
            "source", "database_name", "op", "doc_id",
            "event_seq", "n_tok", "commit_ts",
        ]
    )
    o["profile_report"] = _oracle_full(_prof_arms, _X_ENRICHED)
    _exp_arms = " UNION ALL ".join(
        [
            "SELECT 'not_null' AS rule, 'doc_id' AS col_name,"
            " cast(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS bigint)"
            " AS violations FROM documents",
            "SELECT 'not_null', 'text',"
            " cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS bigint)"
            " FROM documents",
            "SELECT 'in_range', 'n_chars',"
            " cast(sum(CASE WHEN n_chars IS NOT NULL AND (n_chars < 1 OR"
            " n_chars > 100000) THEN 1 ELSE 0 END) AS bigint) FROM documents",
            "SELECT 'in_set', 'lang',"
            " cast(sum(CASE WHEN lang IS NOT NULL AND lang NOT IN"
            " ('en','de','fr') THEN 1 ELSE 0 END) AS bigint) FROM documents",
            "SELECT 'matches', 'source',"
            " cast(sum(CASE WHEN source IS NOT NULL AND NOT"
            " regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END)"
            " AS bigint) FROM documents",
            "SELECT 'sql', 'n_chars_matches_text',"
            " cast(sum(CASE WHEN NOT coalesce(n_chars = length(text), false)"
            " THEN 1 ELSE 0 END) AS bigint) FROM documents",
            "SELECT 'unique', 'doc_id',"
            " cast(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS bigint)"
            " FROM (SELECT count(*) AS c FROM documents GROUP BY doc_id)",
        ]
    )
    o["qa_expectations"] = (
        f"SELECT rule, col_name, violations, violations = 0 AS passed"
        f" FROM ({_exp_arms})"
    )
    # hot-key share in ppm, deterministic rank tiebreak on the key
    o["sink_skew_report"] = _oracle_full(
        "SELECT database_name, table_name, cnt,"
        " cast(floor(cnt * 1000000 / total) AS bigint) AS share_ppm,"
        " cast(row_number() OVER (ORDER BY cnt DESC, database_name,"
        " table_name) AS int) AS rank"
        " FROM (SELECT database_name, table_name,"
        "       cast(count(*) AS bigint) AS cnt FROM kept GROUP BY 1, 2)"
        " CROSS JOIN (SELECT cast(count(*) AS bigint) AS total FROM kept)"
        " ORDER BY cnt DESC, database_name, table_name LIMIT 8",
        _X_ENRICHED,
    )
    o["profile_key_unique"] = _oracle_full(
        "SELECT cast(sum(c) AS bigint) AS n_rows,"
        " cast(count(*) AS bigint) AS n_keys,"
        " cast(sum(c) - count(*) AS bigint) AS dup_rows FROM"
        " (SELECT count(*) AS c FROM kept"
        "  GROUP BY database_name, table_name, doc_id, event_seq)",
        _X_ENRICHED,
    )
    # BM25 (Lucene idf variant) in milli-points over exact-bigint inputs;
    # float expressions textually mirror tokens.bm25_topk's operation
    # order (incl. the ((tf*2.2)/denom) grouping) so both engines round
    # identically; deterministic cut via full-key tiebreak
    o["token_bm25_topk"] = _oracle_full(
        "SELECT source, doc_id, event_seq,"
        " cast(round(sum("
        "  ln(1.0 + (n_seq - df_cnt + 0.5) / (df_cnt + 0.5))"
        "  * ((tf * 2.2)"
        "     / (tf + 1.2 * (0.25 + 0.75 * (dl * n_seq) / total_tok)))"
        " ) * 1000) AS bigint) AS score_m"
        " FROM tf JOIN dfs USING (token) CROSS JOIN stats"
        " GROUP BY source, doc_id, event_seq"
        " ORDER BY score_m DESC, source, doc_id, event_seq LIMIT 25",
        _X_ENRICHED + ","
        + " stats AS (SELECT cast(count(*) AS bigint) AS n_seq,"
        "   cast(sum(n_tok) AS bigint) AS total_tok FROM kept),"
        " tf AS (SELECT source, doc_id, event_seq, dl, token,"
        "   cast(count(*) AS bigint) AS tf FROM"
        "   (SELECT source, doc_id, event_seq, n_tok AS dl,"
        "    unnest(tokens) AS token FROM kept)"
        "  WHERE token IN (6141, 8648, 14689) GROUP BY 1, 2, 3, 4, 5),"
        " dfs AS (SELECT token, cast(count(*) AS bigint) AS df_cnt"
        "   FROM tf GROUP BY token)",
    )
    o["vocab_stats"] = _oracle_full(
        "SELECT a.source, a.n_rows, a.total_tok, b.distinct_tok FROM"
        " (SELECT source, cast(count(*) AS bigint) AS n_rows,"
        "         cast(sum(len(tokens)) AS bigint) AS total_tok"
        "  FROM kept GROUP BY source) a"
        " JOIN"
        " (SELECT source, cast(count(DISTINCT token) AS bigint) AS distinct_tok"
        "  FROM (SELECT source, unnest(tokens) AS token FROM kept)"
        "  GROUP BY source) b USING (source)",
        _X_ENRICHED,
    )
    # per-source distinct-n / total-n diversity in ppm; gram strings are
    # the '-'-joined decimal form shared with the Spark _gram_strings canon
    o["token_ngram_diversity"] = _oracle_full(
        "SELECT source, n, total_grams, distinct_grams,"
        " CASE WHEN total_grams = 0 THEN 0"
        "      ELSE cast(floor(distinct_grams * 1000000 / total_grams)"
        "           AS bigint) END AS diversity_ppm"
        " FROM ("
        "  SELECT source, cast(1 AS int) AS n,"
        "         cast(count(*) AS bigint) AS total_grams,"
        "         cast(count(DISTINCT gram) AS bigint) AS distinct_grams"
        "  FROM (SELECT source, unnest(tokens) AS gram FROM kept)"
        "  GROUP BY source"
        "  UNION ALL"
        "  SELECT source, cast(2 AS int) AS n,"
        "         cast(count(*) AS bigint) AS total_grams,"
        "         cast(count(DISTINCT gram) AS bigint) AS distinct_grams"
        "  FROM (SELECT source,"
        "        unnest(list_transform(range(1, greatest(len(tokens), 1)),"
        "          i -> array_to_string(tokens[i:i+1], '-'))) AS gram"
        "        FROM kept)"
        "  GROUP BY source"
        "  UNION ALL"
        "  SELECT source, cast(3 AS int) AS n,"
        "         cast(count(*) AS bigint) AS total_grams,"
        "         cast(count(DISTINCT gram) AS bigint) AS distinct_grams"
        "  FROM (SELECT source,"
        "        unnest(list_transform("
        "          range(1, greatest(len(tokens) - 1, 1)),"
        "          i -> array_to_string(tokens[i:i+2], '-'))) AS gram"
        "        FROM kept)"
        "  GROUP BY source)",
        _X_ENRICHED,
    )
    # bigram PMI top-k: counts exact-integer, the one ln on identically
    # shaped operands both sides, ranked by the ROUNDED milli-nat value
    # with (x, y) tie-break (tokens.py pmi_topk, k=40, min_count=5)
    o["token_pmi_topk"] = _oracle_full(
        "SELECT x, y, pair_cnt, x_cnt, y_cnt, pmi_mn,"
        " cast(row_number() OVER (ORDER BY pmi_mn DESC, x, y) AS int)"
        " AS rank"
        " FROM ("
        "  SELECT x, y, pair_cnt, x_cnt, y_cnt,"
        "   cast(round(ln(pair_cnt / total_pairs * total_tok / x_cnt"
        "        * total_tok / y_cnt) * 1000) AS bigint) AS pmi_mn"
        "  FROM ("
        "   SELECT cast(string_split(gram, '-')[1] AS int) AS x,"
        "          cast(string_split(gram, '-')[2] AS int) AS y,"
        "          pair_cnt"
        "   FROM (SELECT gram, cast(count(*) AS bigint) AS pair_cnt"
        "         FROM (SELECT unnest(list_transform("
        "               range(1, greatest(len(tokens), 1)),"
        "               i -> array_to_string(tokens[i:i+1], '-'))) AS gram"
        "               FROM kept)"
        "         GROUP BY gram)"
        "   WHERE pair_cnt >= 5) p"
        "  JOIN (SELECT token AS x, cast(count(*) AS bigint) AS x_cnt"
        "        FROM (SELECT unnest(tokens) AS token FROM kept)"
        "        GROUP BY 1) ux USING (x)"
        "  JOIN (SELECT token AS y, cast(count(*) AS bigint) AS y_cnt"
        "        FROM (SELECT unnest(tokens) AS token FROM kept)"
        "        GROUP BY 1) uy USING (y)"
        "  CROSS JOIN (SELECT cast(sum(greatest(len(tokens) - 1, 0))"
        "              AS bigint) AS total_pairs FROM kept)"
        "  CROSS JOIN (SELECT cast(sum(n_tok) AS bigint) AS total_tok"
        "              FROM kept))"
        " ORDER BY pmi_mn DESC, x, y LIMIT 40",
        _X_ENRICHED,
    )
    # KMV distinct sketch: bottom-k over the repo-canon md5-prefix
    # hashes; the (k-1)*2^32/h_k order-statistic estimator next to the
    # exact distinct count (sketch.py kmv_distinct, k=128)
    o["sketch_distinct_kmv"] = _oracle_full(
        "SELECT est.source, k_used, h_k, est_distinct, exact_distinct,"
        " cast(floor(abs(est_distinct - exact_distinct) * 1000000.0"
        "      / exact_distinct) AS bigint) AS err_ppm"
        " FROM ("
        "  SELECT source, cast(max(rk) AS int) AS k_used,"
        "         cast(max(h) AS bigint) AS h_k,"
        "   CASE WHEN max(rk) < 128 THEN cast(max(rk) AS bigint)"
        "        ELSE cast(floor(127 * 4294967296.0 / max(h)) AS bigint)"
        "   END AS est_distinct"
        "  FROM ("
        "   SELECT source, h,"
        "          row_number() OVER (PARTITION BY source ORDER BY h) AS rk"
        "   FROM (SELECT DISTINCT source,"
        "         cast(('0x' || substr(md5(cast(token AS varchar)), 1, 8))"
        "              AS ubigint) AS h"
        "         FROM (SELECT source, unnest(tokens) AS token FROM kept)))"
        "  WHERE rk <= 128 GROUP BY source) est"
        " JOIN (SELECT source,"
        "       cast(count(DISTINCT token) AS bigint) AS exact_distinct"
        "       FROM (SELECT source, unnest(tokens) AS token FROM kept)"
        "       GROUP BY source) ex USING (source)"
        " ORDER BY source",
        _X_ENRICHED,
    )
    # HyperLogLog b=10: register max-rank fold over the same hashes;
    # harmonic-mean numerator kept as ONE precomputed double and the
    # denominator as the exact integer sum of 2^(33-rho), so both
    # engines divide identical operands (sketch.py hll_distinct)
    o["sketch_distinct_hll"] = _oracle_full(
        "SELECT e.source, zero_registers, sum_scaled, est_distinct,"
        " exact_distinct,"
        " cast(floor(abs(est_distinct - exact_distinct) * 1000000.0"
        "      / exact_distinct) AS bigint) AS err_ppm"
        " FROM ("
        "  SELECT source, zero_registers, sum_scaled, cast(floor("
        "   CASE WHEN (6490054181368802e0 / sum_scaled) <= 2560e0"
        "        AND zero_registers > 0"
        "   THEN 1024e0 * ln(1024e0 / zero_registers)"
        "   ELSE 6490054181368802e0 / sum_scaled END) AS bigint)"
        "   AS est_distinct"
        "  FROM ("
        "   SELECT source, cast(1024 - count(*) AS bigint) AS zero_registers,"
        "    cast(sum(cast(2.0 ** (33 - rho) AS bigint))"
        "         + (1024 - count(*)) * 8589934592 AS bigint) AS sum_scaled"
        "   FROM ("
        "    SELECT source, cast(floor(h / 4194304) AS int) AS bucket,"
        "     cast(max(CASE WHEN h % 4194304 = 0 THEN 23"
        "          ELSE 23 - length(to_base(cast(h % 4194304 AS bigint), 2))"
        "          END) AS int) AS rho"
        "    FROM (SELECT source,"
        "          cast(('0x' || substr(md5(cast(token AS varchar)), 1, 8))"
        "               AS ubigint) AS h"
        "          FROM (SELECT source, unnest(tokens) AS token FROM kept))"
        "    GROUP BY 1, 2)"
        "   GROUP BY source)) e"
        " JOIN (SELECT source,"
        "       cast(count(DISTINCT token) AS bigint) AS exact_distinct"
        "       FROM (SELECT source, unnest(tokens) AS token FROM kept)"
        "       GROUP BY source) ex USING (source)"
        " ORDER BY source",
        _X_ENRICHED,
    )
    # KMV set resemblance: est Jaccard = |U_k ∩ A ∩ B| / |U_k| with U_k
    # the k smallest of the two sketches' union (sketch.py
    # kmv_source_overlap, k=64); exact Jaccard joined for the audit
    o["sketch_source_overlap"] = _oracle_full(
        "SELECT est.source_a, est.source_b, k_used, est_jaccard_ppm,"
        " exact_jaccard_ppm,"
        " abs(est_jaccard_ppm - exact_jaccard_ppm) AS abs_err_ppm"
        " FROM ("
        "  SELECT source_a, source_b, cast(max(rk) AS int) AS k_used,"
        "   cast(floor(sum(in_a * in_b) * 1000000.0 / max(rk)) AS bigint)"
        "   AS est_jaccard_ppm"
        "  FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY source_a, source_b"
        "          ORDER BY h) AS rk"
        "   FROM ("
        "    SELECT source_a, source_b, h, max(in_a) AS in_a,"
        "           max(in_b) AS in_b"
        "    FROM ("
        "     SELECT g.source_a, g.source_b, s.h, 1 AS in_a, 0 AS in_b"
        "     FROM grid g JOIN sk s ON s.source = g.source_a"
        "     UNION ALL"
        "     SELECT g.source_a, g.source_b, s.h, 0, 1"
        "     FROM grid g JOIN sk s ON s.source = g.source_b)"
        "    GROUP BY 1, 2, 3))"
        "  WHERE rk <= 64 GROUP BY 1, 2) est"
        " JOIN ("
        "  SELECT g.source_a, g.source_b,"
        "   cast(floor(coalesce(i.inter, 0) * 1000000.0 /"
        "        (sa.n + sb.n - coalesce(i.inter, 0))) AS bigint)"
        "   AS exact_jaccard_ppm"
        "  FROM grid g"
        "  LEFT JOIN ("
        "   SELECT a.source AS source_a, b.source AS source_b,"
        "          cast(count(*) AS bigint) AS inter"
        "   FROM dtok a JOIN dtok b"
        "     ON a.token = b.token AND a.source < b.source"
        "   GROUP BY 1, 2) i USING (source_a, source_b)"
        "  JOIN (SELECT source, cast(count(*) AS bigint) AS n FROM dtok"
        "        GROUP BY 1) sa ON sa.source = g.source_a"
        "  JOIN (SELECT source, cast(count(*) AS bigint) AS n FROM dtok"
        "        GROUP BY 1) sb ON sb.source = g.source_b) ex"
        " USING (source_a, source_b)"
        " ORDER BY source_a, source_b",
        _X_ENRICHED + ","
        " dtok AS (SELECT DISTINCT source, token FROM"
        "  (SELECT source, unnest(tokens) AS token FROM kept)),"
        " sk AS (SELECT source, cast(h AS bigint) AS h FROM ("
        "  SELECT source, h, row_number() OVER (PARTITION BY source"
        "         ORDER BY h) AS rk"
        "  FROM (SELECT DISTINCT source,"
        "        cast(('0x' || substr(md5(cast(token AS varchar)), 1, 8))"
        "             AS ubigint) AS h FROM dtok)) WHERE rk <= 64),"
        " grid AS (SELECT a.source AS source_a, b.source AS source_b"
        "  FROM (SELECT DISTINCT source FROM sk) a,"
        "       (SELECT DISTINCT source FROM sk) b"
        "  WHERE a.source < b.source)",
    )
    # streaming HLL: the per-micro-batch register fold is idempotent
    # max-merge, so the drained stream's registers equal the batch
    # sketch's — same oracle as sketch_distinct_hll minus the exact join
    o["streaming_hll_distinct"] = _oracle_full(
        "SELECT source, zero_registers, sum_scaled, cast(floor("
        " CASE WHEN (6490054181368802e0 / sum_scaled) <= 2560e0"
        "      AND zero_registers > 0"
        " THEN 1024e0 * ln(1024e0 / zero_registers)"
        " ELSE 6490054181368802e0 / sum_scaled END) AS bigint)"
        " AS est_distinct"
        " FROM ("
        "  SELECT source, cast(1024 - count(*) AS bigint) AS zero_registers,"
        "   cast(sum(cast(2.0 ** (33 - rho) AS bigint))"
        "        + (1024 - count(*)) * 8589934592 AS bigint) AS sum_scaled"
        "  FROM ("
        "   SELECT source, cast(floor(h / 4194304) AS int) AS bucket,"
        "    cast(max(CASE WHEN h % 4194304 = 0 THEN 23"
        "         ELSE 23 - length(to_base(cast(h % 4194304 AS bigint), 2))"
        "         END) AS int) AS rho"
        "   FROM (SELECT source,"
        "         cast(('0x' || substr(md5(cast(token AS varchar)), 1, 8))"
        "              AS ubigint) AS h"
        "         FROM (SELECT source, unnest(tokens) AS token FROM kept))"
        "   GROUP BY 1, 2)"
        "  GROUP BY source)"
        " ORDER BY source",
        _X_ENRICHED,
    )
    # Count-Min sketch: depth x width exact-integer counters under
    # row-salted md5 hashes; estimate = min over rows; probed at the
    # exact top-20 tokens (sketch.py cms_estimate_report)
    o["sketch_token_cms"] = _oracle_full(
        "SELECT token, exact_cnt, est_cnt,"
        " cast(floor((est_cnt - exact_cnt) * 1000000.0 / exact_cnt)"
        "      AS bigint) AS overcount_ppm"
        " FROM ("
        "  SELECT token, exact_cnt, cast(min(cnt) AS bigint) AS est_cnt"
        "  FROM ("
        "   SELECT p.token, p.exact_cnt, r.i AS row,"
        "    cast(cast(('0x' || substr(md5(cast(r.i AS varchar) || ':' ||"
        "         cast(p.token AS varchar)), 1, 8)) AS ubigint) % 1024"
        "         AS int) AS bucket"
        "   FROM (SELECT token, cast(count(*) AS bigint) AS exact_cnt"
        "         FROM (SELECT unnest(tokens) AS token FROM kept)"
        "         GROUP BY token ORDER BY exact_cnt DESC, token"
        "         LIMIT 20) p"
        "   CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r) probe"
        "  JOIN ("
        "   SELECT row, bucket, cast(count(*) AS bigint) AS cnt"
        "   FROM ("
        "    SELECT r.i AS row,"
        "     cast(cast(('0x' || substr(md5(cast(r.i AS varchar) || ':' ||"
        "          cast(o.token AS varchar)), 1, 8)) AS ubigint) % 1024"
        "          AS int) AS bucket"
        "    FROM (SELECT unnest(tokens) AS token FROM kept) o"
        "    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r)"
        "   GROUP BY 1, 2) c USING (row, bucket)"
        "  GROUP BY token, exact_cnt)"
        " ORDER BY exact_cnt DESC, token",
        _X_ENRICHED,
    )
    # per-event mean unigram surprisal in milli-nats (CCNet-style quality)
    o["text_surprisal"] = _oracle_full(
        "SELECT source, doc_id, event_seq,"
        " cast(round(avg(-ln(cnt / total_tok)) * 1000) AS bigint)"
        " AS surprisal_mn"
        " FROM ("
        "  SELECT source, doc_id, event_seq, unnest(tokens) AS token"
        "  FROM kept) occ"
        " JOIN (SELECT token, cast(count(*) AS bigint) AS cnt FROM"
        "       (SELECT unnest(tokens) AS token FROM kept)"
        "       GROUP BY token) f USING (token)"
        " CROSS JOIN (SELECT cast(sum(n_tok) AS bigint) AS total_tok"
        "             FROM kept) t"
        " GROUP BY source, doc_id, event_seq",
        _X_ENRICHED,
    )
    # bigram conditional surprisal in milli-nats; prefix counts derived
    # from the bigram table itself so p(w2|w1) normalizes exactly
    o["text_surprisal2"] = _oracle_full(
        "SELECT source, doc_id, event_seq,"
        " cast(round(avg(-ln(cnt2 / cnt1)) * 1000) AS bigint)"
        " AS surprisal2_mn"
        " FROM occ JOIN f USING (gram)"
        " GROUP BY source, doc_id, event_seq",
        _X_ENRICHED + ","
        " occ AS (SELECT source, doc_id, event_seq,"
        "  unnest(list_transform(range(1, greatest(len(tokens), 1)),"
        "  i -> array_to_string(tokens[i:i+1], '-'))) AS gram FROM kept),"
        " b AS (SELECT gram, cast(count(*) AS bigint) AS cnt2 FROM occ"
        "  GROUP BY gram),"
        " p AS (SELECT string_split(gram, '-')[1] AS w1,"
        "  cast(sum(cnt2) AS bigint) AS cnt1 FROM b GROUP BY 1),"
        " f AS (SELECT gram, cnt2, cnt1 FROM b"
        "  JOIN p ON string_split(b.gram, '-')[1] = p.w1)",
    )
    # within-document duplicate-3-gram fraction (Gopher repetition filter);
    # grams rendered as '-'-joined decimal strings in both engines
    o["text_repetition"] = _oracle_full(
        "SELECT source, doc_id, event_seq, n_grams, n_distinct,"
        " CASE WHEN n_grams = 0 THEN 0"
        "      ELSE cast(round((n_grams - n_distinct) * 1000000.0 / n_grams)"
        "           AS bigint) END AS dup_ppm"
        " FROM ("
        "  SELECT source, doc_id, event_seq,"
        "         cast(greatest(len(tokens) - 2, 0) AS bigint) AS n_grams,"
        "         cast(len(list_distinct(list_transform("
        "              range(1, greatest(len(tokens) - 1, 1)),"
        "              i -> array_to_string(tokens[i:i+2], '-'))))"
        "              AS bigint) AS n_distinct"
        "  FROM kept)",
        _X_ENRICHED,
    )
    # cross-document duplicated 8-token spans (ExactSubstr candidate pass)
    o["dedup_token_spans"] = _oracle_full(
        "SELECT gram_md5, cast(count(DISTINCT doc_id) AS bigint) AS n_docs,"
        " cast(count(*) AS bigint) AS n_occ"
        " FROM ("
        "  SELECT doc_id, md5(array_to_string(tokens[i:i+7], '-')) AS gram_md5"
        "  FROM kept, LATERAL (SELECT unnest(range(1, len(tokens) - 6)) AS i) g)"
        " GROUP BY gram_md5 HAVING count(DISTINCT doc_id) >= 2",
        _X_ENRICHED,
    )
    # ExactSubstr resolution pass: per-event token positions covered by a
    # cross-document duplicated 8-gram (union of overlapping spans)
    o["dedup_span_coverage"] = _oracle_full(
        "SELECT k.source, k.doc_id, k.event_seq,"
        " cast(len(k.tokens) AS bigint) AS n_tok,"
        " cast(coalesce(a.covered, 0) AS bigint) AS covered_tok,"
        " cast(round(coalesce(a.covered, 0) * 1000000.0"
        "      / greatest(len(k.tokens), 1)) AS bigint) AS coverage_ppm"
        " FROM kept k LEFT JOIN ("
        "  SELECT source, doc_id, event_seq, sum(cov) AS covered"
        "  FROM ("
        "   SELECT source, doc_id, event_seq, i,"
        "          least(8, coalesce(lead(i) OVER ("
        "            PARTITION BY source, doc_id, event_seq ORDER BY i)"
        "            - i, 8)) AS cov"
        "   FROM ("
        "    SELECT source, doc_id, event_seq, i,"
        "           md5(array_to_string(tokens[i:i+7], '-')) AS gram_md5"
        "    FROM kept, LATERAL (SELECT unnest(range(1, len(tokens) - 6))"
        "                        AS i) g) p"
        "   JOIN ("
        "    SELECT gram_md5 FROM ("
        "     SELECT md5(array_to_string(tokens[i:i+7], '-')) AS gram_md5,"
        "            doc_id"
        "     FROM kept, LATERAL (SELECT unnest(range(1, len(tokens) - 6))"
        "                         AS i) g"
        "     GROUP BY 1, 2)"
        "    GROUP BY gram_md5 HAVING count(*) >= 2) f USING (gram_md5))"
        "  GROUP BY 1, 2, 3) a"
        " USING (source, doc_id, event_seq)",
        _X_ENRICHED,
    )
    o["windowed_histogram"] = _oracle_full(
        "SELECT database_name, table_name, date_trunc('day', commit_ts) AS win_start,"
        " cast(sum(CASE WHEN op = 'Create' THEN 1 ELSE 0 END) AS bigint) AS insert_cnt,"
        " cast(sum(CASE WHEN op = 'Update' THEN 1 ELSE 0 END) AS bigint) AS update_cnt,"
        " cast(sum(CASE WHEN op = 'Delete' THEN 1 ELSE 0 END) AS bigint) AS delete_cnt,"
        " max(commit_ts) AS win_watermark"
        " FROM kept GROUP BY 1, 2, 3",
        _X_ENRICHED,
    )
    o["partitions_report"] = _oracle_full(
        "SELECT db_instance, database_name, table_name,"
        " count(*) AS partition_cnt,"
        " cast(sum(insert_cnt + update_cnt + delete_cnt) AS bigint) AS total_rows,"
        " string_agg(cast(cast(part_date AS date) AS varchar), ',' ORDER BY cast(cast(part_date AS date) AS varchar)) AS partitions_concat"
        f" FROM ({sink_counts_sql}) GROUP BY 1, 2, 3"
        " HAVING count(*) > 2 AND sum(insert_cnt + update_cnt + delete_cnt) >= 10",
        _X_ENRICHED,
    )
    o["file_gaps"] = _oracle_full(
        "SELECT dir, prev_num + 1 AS gap_start, file_num - 1 AS gap_end FROM ("
        " SELECT dir, file_num, lag(file_num) OVER (PARTITION BY dir ORDER BY"
        " file_num) AS prev_num FROM (SELECT DISTINCT 'dir' || cast(doc_num % 2 AS varchar) AS dir,"
        " cast((doc_num*doc_num) % 40 AS bigint) AS file_num FROM corpus))"
        " WHERE file_num - prev_num > 1"
    )
    findings_sql = (
        "SELECT database_name, table_name, doc_id, 'missing_create' AS finding,"
        " final_ts AS src_ts FROM final_state f WHERE final_op = 'Create' AND"
        " NOT EXISTS (SELECT 1 FROM replica r WHERE r.database_name ="
        " f.database_name AND r.table_name = f.table_name AND r.doc_id = f.doc_id)"
        " UNION ALL "
        "SELECT database_name, table_name, doc_id, 'missing_update' AS finding,"
        " final_ts AS src_ts FROM final_state f WHERE final_op = 'Update' AND"
        " NOT EXISTS (SELECT 1 FROM replica r WHERE r.database_name ="
        " f.database_name AND r.table_name = f.table_name AND r.doc_id = f.doc_id)"
        " UNION ALL "
        "SELECT f.database_name, f.table_name, f.doc_id, 'stale_update' AS"
        " finding, f.final_ts AS src_ts FROM final_state f JOIN replica r USING"
        " (database_name, table_name, doc_id) WHERE f.final_op = 'Update' AND"
        " f.final_ts > r.replica_ts"
        " UNION ALL "
        "SELECT f.database_name, f.table_name, f.doc_id, 'ghost_delete' AS"
        " finding, f.final_ts AS src_ts FROM final_state f WHERE f.final_op ="
        " 'Delete' AND EXISTS (SELECT 1 FROM replica r WHERE r.database_name ="
        " f.database_name AND r.table_name = f.table_name AND r.doc_id = f.doc_id)"
    )
    o["reconcile_findings"] = _oracle_full(
        findings_sql, _X_ENRICHED + "," + _X_FINAL_STATE + "," + _X_REPLICA_MUTATED
    )
    # anti-entropy: the drill-down MUST reproduce the full reconcile exactly
    # (every drifted key's bucket digest differs, so no finding escapes)
    o["antientropy_findings"] = o["reconcile_findings"]
    _ae_hash = (
        "('0x' || substr(md5(concat_ws('|', database_name, table_name,"
        " doc_id, cast(epoch_us(replica_ts) AS varchar))), 1, 15))::BIGINT"
    )
    _ae_bucket = (
        "('0x' || substr(md5(concat_ws('|', database_name, table_name,"
        " doc_id)), 17, 8))::BIGINT % 64"
    )
    _ae_digest = (
        "SELECT {b} AS bucket, count(*) AS n_rows, bit_xor(h) AS xor_h,"
        " cast(sum(h % 1048576) AS BIGINT) AS sum_h"
        " FROM (SELECT *, {h} AS h FROM {src}) GROUP BY 1"
    )
    o["antientropy_buckets"] = _oracle_full(
        "SELECT bucket, src_rows, src_xor, src_sum, dst_rows, dst_xor,"
        " dst_sum FROM ("
        "  SELECT coalesce(s.bucket, d.bucket) AS bucket,"
        "         s.n_rows AS src_rows, s.xor_h AS src_xor, s.sum_h AS src_sum,"
        "         d.n_rows AS dst_rows, d.xor_h AS dst_xor, d.sum_h AS dst_sum"
        "  FROM srcd s FULL OUTER JOIN dstd d ON s.bucket = d.bucket)"
        " WHERE NOT (src_rows IS NOT DISTINCT FROM dst_rows"
        "        AND src_xor IS NOT DISTINCT FROM dst_xor"
        "        AND src_sum IS NOT DISTINCT FROM dst_sum)",
        _X_ENRICHED + "," + _X_FINAL_STATE + "," + _X_REPLICA_MUTATED + ","
        + "expected AS (SELECT database_name, table_name, doc_id,"
        "   final_ts AS replica_ts FROM final_state WHERE final_op <> 'Delete'),"
        + "srcd AS ("
        + _ae_digest.format(b=_ae_bucket, h=_ae_hash, src="expected")
        + "), dstd AS ("
        + _ae_digest.format(b=_ae_bucket, h=_ae_hash, src="replica")
        + ")",
    )
    o["merge_roundtrip"] = _oracle_full(
        "SELECT database_name, table_name, doc_id,"
        " CASE WHEN cast(doc_id AS bigint) % 7 = 1 THEN cast(-1 AS bigint)"
        "      ELSE final_seq END AS final_seq"
        " FROM final_state WHERE final_op <> 'Delete'"
        "   AND NOT (cast(doc_id AS bigint) % 9 = 2"
        "            AND cast(doc_id AS bigint) % 7 <> 1)"
        " UNION ALL "
        "SELECT database_name, table_name, doc_id || '_new' AS doc_id,"
        " cast(cast(doc_id AS bigint) + 1000000 AS bigint) AS final_seq"
        " FROM final_state"
        " WHERE final_op <> 'Delete' AND cast(doc_id AS bigint) % 17 = 5",
        _X_ENRICHED + "," + _X_FINAL_STATE,
    )
    _mor_live = (
        "SELECT database_name, table_name, doc_id, final_seq"
        " FROM final_state WHERE final_op <> 'Delete'"
    )
    _mor_expected = (
        _mor_live + " AND cast(doc_id AS bigint) % 13 <> 4"
        " UNION ALL "
        "SELECT database_name, table_name, doc_id,"
        " cast(-5 AS bigint) AS final_seq"
        " FROM final_state WHERE final_op <> 'Delete'"
        " AND cast(doc_id AS bigint) % 26 = 4"
    )
    o["mor_equality_delete"] = _oracle_full(
        _mor_expected, _X_ENRICHED + "," + _X_FINAL_STATE
    )
    # materialize is read-preserving by contract: same expected rows
    o["mor_materialize"] = _oracle_full(
        _mor_expected, _X_ENRICHED + "," + _X_FINAL_STATE
    )
    o["mor_cdf_delete"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, final_seq,"
        " 'delete' AS _change_type"
        " FROM final_state WHERE final_op <> 'Delete'"
        " AND cast(doc_id AS bigint) % 13 = 4",
        _X_ENRICHED + "," + _X_FINAL_STATE,
    )
    o["time_travel_read"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, final_op, final_seq"
        " FROM (SELECT database_name, table_name, doc_id,"
        "   arg_max(op, event_seq) AS final_op,"
        "   max(event_seq) AS final_seq"
        "   FROM kept WHERE event_seq % 3 <> 0 GROUP BY 1, 2, 3)"
        " WHERE final_op <> 'Delete'",
        _X_ENRICHED,
    )
    _cdf_state = (
        "SELECT database_name, table_name, doc_id,"
        " arg_max(op, event_seq) AS final_op, max(event_seq) AS final_seq"
        " FROM kept {w} GROUP BY 1, 2, 3"
    )
    o["snapshot_changes"] = _oracle_full(
        "SELECT n.*, CASE WHEN coalesce(k.upd, false)"
        "   THEN 'update_postimage' ELSE 'insert' END AS _change_type"
        " FROM new_only n LEFT JOIN kboth k"
        "   USING (database_name, table_name, doc_id)"
        " UNION ALL "
        "SELECT o.*, CASE WHEN coalesce(k.upd, false)"
        "   THEN 'update_preimage' ELSE 'delete' END AS _change_type"
        " FROM old_only o LEFT JOIN kboth k"
        "   USING (database_name, table_name, doc_id)",
        _X_ENRICHED + ","
        + "liveA AS (SELECT * FROM ("
        + _cdf_state.format(w="WHERE event_seq % 3 <> 0")
        + ") WHERE final_op <> 'Delete'),"
        + "liveB AS (SELECT * FROM ("
        + _cdf_state.format(w="")
        + ") WHERE final_op <> 'Delete'),"
        + "old_only AS (SELECT * FROM liveA EXCEPT ALL SELECT * FROM liveB),"
        + "new_only AS (SELECT * FROM liveB EXCEPT ALL SELECT * FROM liveA),"
        + "kboth AS (SELECT database_name, table_name, doc_id, true AS upd"
        "   FROM (SELECT database_name, table_name, doc_id FROM new_only"
        "         INTERSECT"
        "         SELECT database_name, table_name, doc_id FROM old_only))",
    )
    o["reconcile_clean"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, 'x' AS finding"
        " FROM final_state WHERE 1 = 0",
        _X_ENRICHED + "," + _X_FINAL_STATE,
    )
    # repaired replica must equal the true final state's live rows, except
    # rows never flagged keep their (possibly equal) replica values — with our
    # injection every discrepancy IS flagged, so repaired == truth:
    o["repair_roundtrip"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, final_ts AS replica_ts,"
        f" {_duck_md5_arr('final_tokens')} AS replica_tokens_md5"
        " FROM final_state WHERE final_op <> 'Delete'",
        _X_ENRICHED + "," + _X_FINAL_STATE,
    )
    o["resume_remaining"] = _oracle_full(
        "SELECT file_id, count(*) AS cnt FROM corpus WHERE file_id NOT IN"
        " ('src0-f0', 'src1-f1', 'src2-f2') GROUP BY 1"
    )
    o["system_schema_counts"] = _oracle_full(
        "SELECT database_name, count(*) AS cnt"
        " FROM corpus c JOIN routing r USING (table_key)"
        " WHERE database_name IN ('mysql', 'infra') GROUP BY 1"
    )
    _rec = (
        "CASE WHEN epoch_mixed < 10000000000"
        " THEN make_timestamp(epoch_mixed * 1000000)"
        " ELSE make_timestamp(epoch_mixed * 1000) END"
    )
    o["timezone_compat"] = _oracle_full(
        f"SELECT doc_id, event_seq, epoch_mixed, {_rec} AS recovered_ts,"
        " cast(cast(commit_ts - to_hours(8) AS date) AS timestamp) AS cst_day,"
        f" ({_rec} = commit_ts) AS roundtrip_ok FROM m",
        "m AS (SELECT doc_id, event_seq, commit_ts,"
        " CASE WHEN doc_num % 2 = 0 THEN cast(epoch(commit_ts) AS bigint)"
        " ELSE cast(epoch(commit_ts) AS bigint) * 1000 END AS epoch_mixed"
        " FROM corpus)",
    )
    _raw_ident = (
        "'`' || upper(database_name) || '`.`' || upper(table_name) || '`'"
    )
    o["identifier_norm"] = _oracle_full(
        f"SELECT table_key, {_raw_ident} AS raw_ident,"
        f" lower(replace({_raw_ident}, '`', '')) AS norm_ident FROM routing"
    )
    _idlist = "list_slice(list_sort(list(doc_id)), 1, 10)"
    o["probe_id_lists"] = _oracle_full(
        "SELECT database_name, table_name,"
        " count(doc_id) AS total_ids,"
        f" cast(len({_idlist}) AS int) AS probe_ids,"
        f" md5(array_to_string({_idlist}, ',')) AS ids_md5"
        " FROM kept GROUP BY 1, 2",
        _X_ENRICHED,
    )
    o["probe_sample"] = _oracle_full(
        "SELECT database_name, table_name, doc_id FROM ("
        " SELECT *, count(*) OVER (PARTITION BY database_name, table_name)"
        "  AS n, row_number() OVER (PARTITION BY database_name, table_name"
        "  ORDER BY md5(doc_id), doc_id) AS rn"
        " FROM (SELECT DISTINCT database_name, table_name, doc_id FROM kept))"
        " WHERE rn <= ceil(sqrt(n))",
        _X_ENRICHED,
    )
    o["routed_tokens_digest"] = _oracle_full(
        "SELECT tree, doc_id, event_seq, op, n_tok AS img_n_tok,"
        f" {_duck_md5_arr('tokens')} AS tokens_md5 FROM routed",
        _X_ENRICHED,
    )
    _bname = "'mysql-bin.00' || lpad(cast(doc_num % 997 AS varchar), 4, '0')"
    _hp = (
        "'p_y=' || strftime(commit_ts, '%Y') || '/p_m=' ||"
        " strftime(commit_ts, '%m') || '/p_d=' || strftime(commit_ts, '%d')"
    )
    o["scalar_strings"] = _oracle_full(
        "SELECT doc_id, event_seq,"
        " lower(substr(op, 1, 1)) AS op_code,"
        f" {_bname} AS binlog_name,"
        f" cast(regexp_extract({_bname}, '(mysql-bin\\.)(\\d+)', 2) AS bigint)"
        " AS binlog_num,"
        f" {_hp} AS hive_path,"
        " date_trunc('day', commit_ts) AS hive_date,"
        " split_part(file_id, '-', 2) AS file_part"
        " FROM corpus"
    )

    # ------------------------------------------------------------------
    # training-data ops oracles (documents + embeddings, DuckDB dialect)
    # ------------------------------------------------------------------
    DW = "regexp_split_to_array(trim(coalesce(text, '')), '\\s+')"
    DNORM = f"array_to_string({DW}, ' ')"
    nonempty = "length(trim(coalesce(text, ''))) > 0"

    o["dedup_exact"] = (
        f"SELECT md5({DNORM}) AS text_hash, min(doc_id) AS rep_doc_id,"
        f" count(*) AS dup_cnt FROM documents GROUP BY 1 HAVING count(*) > 1"
    )

    _dsh3 = (
        f"list_transform(range(1, greatest(len({DW}) - 2, 0) + 1),"
        f" i -> array_to_string(list_slice({DW}, i, i + 2), ' '))"
    )

    def _mh(i: int) -> str:
        return (
            f"list_aggregate(list_transform({_dsh3},"
            f" s -> md5(s || '#{i}')), 'min')"
        )

    o["dedup_minhash_sigs"] = (
        "SELECT doc_id, "
        + ", ".join(f"{_mh(i)} AS mh{i}" for i in range(4))
        + f" FROM documents WHERE len({DW}) >= 3"
    )
    _bands = ", ".join(
        f"md5({_mh(2 * b)} || '|' || {_mh(2 * b + 1)}) AS band{b}"
        for b in range(4)
    )
    _stack = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM banded"
        for b in range(4)
    )
    o["dedup_minhash_pairs"] = (
        f"WITH banded AS (SELECT doc_id, {_bands} FROM documents WHERE len({DW}) >= 3),"
        f" stacked AS ({_stack})"
        " SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b"
        " FROM stacked l JOIN stacked r ON l.band_id = r.band_id"
        " AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id"
    )

    # components over the same LSH pairs via transitive closure (the
    # recursive CTE is exact on the oracle's scale; the Spark side runs
    # min-label propagation — same fixpoint, cluster-size-independent)
    _comp_ctes = (
        f"WITH RECURSIVE banded AS (SELECT doc_id, {_bands} FROM documents"
        f" WHERE len({DW}) >= 3),"
        f" stacked AS ({_stack}),"
        " pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b"
        "  FROM stacked l JOIN stacked r ON l.band_id = r.band_id"
        "  AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),"
        " edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),"
        " reach(a, b) AS (SELECT a, b FROM edges"
        "  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),"
        " comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id"
        "  FROM reach GROUP BY a)"
    )
    o["dedup_components"] = _comp_ctes + " SELECT doc_id, component_id FROM comp"
    # large-star/small-star resolves the SAME pair graph to the SAME
    # clustering — one oracle serves both implementations
    o["dedup_components_lss"] = o["dedup_components"]
    o["dedup_source_matrix"] = (
        f"WITH banded AS (SELECT doc_id, {_bands} FROM documents"
        f" WHERE len({DW}) >= 3),"
        f" stacked AS ({_stack}),"
        " pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b"
        "  FROM stacked l JOIN stacked r ON l.band_id = r.band_id"
        "  AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id)"
        " SELECT least(da.source, db.source) AS source_a,"
        " greatest(da.source, db.source) AS source_b,"
        " cast(count(*) AS bigint) AS n_pairs"
        " FROM pairs p"
        " JOIN documents da ON p.a = da.doc_id"
        " JOIN documents db ON p.b = db.doc_id"
        " GROUP BY 1, 2"
    )
    # incremental = the full-LSH pair set restricted to pairs touching a
    # new-batch doc (doc_id%5==0); the Spark side never re-hashes the rest
    o["dedup_minhash_incremental"] = (
        f"WITH banded AS (SELECT doc_id, {_bands} FROM documents"
        f" WHERE len({DW}) >= 3),"
        f" stacked AS ({_stack})"
        " SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b"
        " FROM stacked l JOIN stacked r ON l.band_id = r.band_id"
        " AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id"
        " WHERE l.doc_id % 5 = 0 OR r.doc_id % 5 = 0"
    )
    o["dedup_keep_list"] = _comp_ctes + (
        " SELECT doc_id, source FROM documents"
        " WHERE doc_id NOT IN"
        "  (SELECT doc_id FROM comp WHERE component_id <> doc_id)"
    )
    o["dedup_source_report"] = _comp_ctes + (
        ", keptr AS (SELECT source, cast(count(*) AS bigint) AS kept"
        "  FROM documents WHERE doc_id NOT IN"
        "  (SELECT doc_id FROM comp WHERE component_id <> doc_id)"
        "  GROUP BY 1),"
        " tot AS (SELECT source, cast(count(*) AS bigint) AS docs_in"
        "  FROM documents GROUP BY 1)"
        " SELECT source, docs_in,"
        " cast(coalesce(kept, 0) AS bigint) AS kept,"
        " cast(floor((docs_in - coalesce(kept, 0)) * 10000 / docs_in)"
        "  AS bigint) AS removed_bp"
        " FROM tot LEFT JOIN keptr USING (source)"
    )

    def _simbit(j: int) -> str:
        # mirror dedup.simhash_signatures' per-bit scheme: parity of one
        # hex char of md5(w), second md5 salt ('~') for bits >= 32
        src = "md5(w)" if j < 32 else "md5(w || '~')"
        vote = (
            f"list_sum(list_transform({DW}, w -> CASE WHEN"
            f" ascii(substr({src}, {(j % 32) + 1}, 1)) % 2 = 1"
            " THEN 1 ELSE -1 END))"
        )
        return f"CASE WHEN ({vote}) > 0 THEN '1' ELSE '0' END"

    _simhash = " || ".join(_simbit(j) for j in range(64))
    o["dedup_simhash_sigs"] = (
        f"SELECT doc_id, {_simhash} AS simhash FROM documents WHERE {nonempty}"
    )
    _blk_stack = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS blk_id,"
        f" substr(simhash, {b * 16 + 1}, 16) AS blk FROM sigs"
        for b in range(4)
    )
    o["dedup_simhash_pairs"] = (
        f"WITH sigs AS (SELECT doc_id, {_simhash} AS simhash FROM documents"
        f" WHERE {nonempty}), stacked AS ({_blk_stack}),"
        " cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,"
        "  l.simhash AS sh_a, r.simhash AS sh_b"
        "  FROM stacked l JOIN stacked r ON l.blk_id = r.blk_id"
        "  AND l.blk = r.blk AND l.doc_id < r.doc_id)"
        " SELECT doc_a, doc_b, cast(list_sum(list_transform(range(1, 65),"
        "  i -> CASE WHEN substr(sh_a, i, 1) <> substr(sh_b, i, 1)"
        "  THEN 1 ELSE 0 END)) AS int) AS hamming"
        " FROM cand WHERE list_sum(list_transform(range(1, 65),"
        "  i -> CASE WHEN substr(sh_a, i, 1) <> substr(sh_b, i, 1)"
        "  THEN 1 ELSE 0 END)) <= 3"
    )
    _dsh = (
        f"list_transform(range(1, greatest(len({DW}) - 2, 0) + 1),"
        f" i -> array_to_string(list_slice({DW}, i, i + 2), ' '))"
    )
    # training-mix ops — same md5-prefix determinism as the Spark side:
    # keep iff substr(md5(id),1,8) < format(rate*16^8,'08x'), compared as
    # strings (uniform hex digits → exact rate, no dialect-bound hex casts)
    def _thr(rate: float) -> str:
        # mirror mix.rate_threshold exactly, incl. the rate-1.0 "g"
        # keep-all sentinel (above every hex digit)
        if rate >= 1.0:
            return "g"
        return format(min(int(rate * 16**8), 16**8 - 1), "08x")

    o["mix_stratified_sample"] = (
        "SELECT doc_id, source FROM documents"
        " WHERE substr(md5(cast(doc_id AS varchar)), 1, 8) <"
        f" CASE source WHEN 'src0' THEN '{_thr(1.0)}'"
        f" WHEN 'src1' THEN '{_thr(0.5)}'"
        f" WHEN 'src2' THEN '{_thr(0.25)}'"
        f" ELSE '{_thr(0.1)}' END"
    )
    o["mix_pack_sequences"] = (
        "WITH d AS (SELECT doc_id, source,"
        " greatest(1, cast(floor(n_chars / 4) AS bigint)) AS n_tok,"
        " cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))"
        "  AS ubigint) % 2 AS shard FROM documents)"
        " SELECT source, doc_id, n_tok, cast(shard AS bigint) AS shard,"
        " cast(sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id"
        "  ROWS UNBOUNDED PRECEDING) - n_tok AS bigint) AS offset,"
        " cast(floor((sum(n_tok) OVER (PARTITION BY source, shard"
        "  ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) / 2048)"
        "  AS bigint) AS seq"
        " FROM d"
    )
    o["mix_rebalance"] = (
        "WITH tok AS (SELECT source,"
        " cast(sum(greatest(1, cast(floor(n_chars / 4) AS bigint)))"
        "  AS bigint) AS tokens FROM documents GROUP BY 1),"
        " t AS (SELECT source, tokens,"
        " CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3"
        "  WHEN 'src2' THEN 0.2 END AS tgt FROM tok),"
        " c AS (SELECT source, tokens, tgt,"
        " CASE WHEN tgt IS NOT NULL THEN tokens / tgt END AS q,"
        " min(CASE WHEN tgt IS NOT NULL THEN tokens / tgt END) OVER ()"
        "  AS cmin, sum(tokens) OVER () AS total FROM t),"
        # rate = cmin / q, same ratio form as the Spark side: the binding
        # source divides the same double by itself (exactly 1.0), immune
        # to the re-rounding that made cmin*tgt/tokens floor to 9999
        " r AS (SELECT source, tokens, tgt, total,"
        " CASE WHEN tgt IS NULL THEN 0.0"
        "  ELSE least(1.0, cmin / q) END AS rate FROM c)"
        " SELECT source, tokens,"
        " cast(floor(tokens * 10000 / total) AS bigint) AS cur_share_bp,"
        " cast(floor(coalesce(tgt, 0.0) * 10000) AS bigint)"
        "  AS target_share_bp,"
        " cast(floor(rate * 10000) AS bigint) AS rate_bp,"
        " cast(floor(rate * tokens) AS bigint) AS kept_tokens FROM r"
    )

    o["mix_temperature_targets"] = (
        "WITH tok AS (SELECT source,"
        " cast(sum(greatest(1, cast(floor(n_chars / 4) AS bigint)))"
        "  AS bigint) AS tokens FROM documents GROUP BY 1),"
        " s AS (SELECT source, tokens, sum(tokens) OVER () AS total,"
        " tokens / sum(tokens) OVER () AS share FROM tok),"
        " p AS (SELECT source, tokens, total,"
        " CASE WHEN tokens > 0 THEN pow(share, 0.5) END AS sc FROM s),"
        " t AS (SELECT source, tokens, total,"
        " sc / sum(sc) OVER () AS tgt FROM p),"
        " c AS (SELECT source, tokens, total, tgt,"
        " CASE WHEN tokens > 0 THEN tokens / tgt END AS q,"
        " min(CASE WHEN tokens > 0 THEN tokens / tgt END) OVER ()"
        "  AS cmin FROM t),"
        # cmin / q mirrors the Spark ratio form: binding source exactly 1.0
        " r AS (SELECT source, tokens, total, tgt,"
        " CASE WHEN tokens = 0 THEN 0.0"
        "  ELSE least(1.0, cmin / q) END AS rate FROM c)"
        " SELECT source, tokens,"
        " cast(floor(tokens * 10000 / total) AS bigint) AS cur_share_bp,"
        " cast(floor(coalesce(tgt, 0.0) * 10000) AS bigint)"
        "  AS target_share_bp,"
        " cast(floor(rate * 10000) AS bigint) AS rate_bp,"
        " cast(floor(rate * tokens) AS bigint) AS kept_tokens FROM r"
    )

    o["mix_weighted_sample"] = (
        "WITH d AS (SELECT doc_id, source,"
        " greatest(1, cast(floor(n_chars / 4) AS bigint)) AS n_tok,"
        " (cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))"
        "  AS ubigint) + 0.5) / 4294967296.0 AS u FROM documents)"
        " SELECT doc_id, source, n_tok FROM d WHERE n_tok > 0"
        " ORDER BY ln(u) / n_tok DESC LIMIT 200"
    )

    o["mix_shard_incremental"] = (
        "WITH pre AS (SELECT doc_id, md5(cast(doc_id AS string)) AS h,"
        " cast(cast(('0x' || substr(md5(cast(doc_id AS string)), 1, 8))"
        "  AS ubigint) % 16 AS bigint) AS shard_id FROM documents),"
        " base AS (SELECT shard_id, count(*) AS n_docs FROM pre"
        "  WHERE doc_id % 10 <> 0 GROUP BY 1),"
        " newb AS (SELECT doc_id, shard_id,"
        "  cast(row_number() OVER (PARTITION BY shard_id ORDER BY h) - 1"
        "   AS bigint) AS rn FROM pre WHERE doc_id % 10 = 0)"
        " SELECT newb.doc_id, newb.shard_id,"
        " cast(coalesce(base.n_docs, 0) + rn AS bigint) AS pos"
        " FROM newb LEFT JOIN base ON newb.shard_id = base.shard_id"
    )

    _qa_emb = (
        "CASE WHEN vec_id % 11 = 0 THEN"
        " list_transform(cast(embedding AS double[]), x -> 0.0)"
        " WHEN vec_id % 7 = 0 THEN"
        " list_concat([cast('NaN' AS double)],"
        " cast(embedding AS double[])[2:])"
        " ELSE cast(embedding AS double[]) END"
    )
    _qa_nan = "len(list_filter(emb, x -> isnan(x)))"
    _qa_norm = "cast(round(sqrt(list_dot_product(emb, emb)) * 10000) AS bigint)"
    o["ann_embedding_qa"] = (
        f"WITH e AS (SELECT vec_id, {_qa_emb} AS emb FROM embeddings)"
        " SELECT vec_id, cast(len(emb) AS int) AS dim,"
        f" cast({_qa_nan} AS bigint) AS n_nan,"
        " cast(len(list_filter(emb, x -> x = 0.0)) AS bigint) AS n_zero,"
        f" CASE WHEN {_qa_nan} > 0 THEN NULL ELSE {_qa_norm} END"
        "  AS norm_bp,"
        f" CASE WHEN {_qa_nan} > 0 THEN false ELSE {_qa_norm} > 0 END"
        "  AS usable FROM e"
    )

    o["mix_pack_tokens"] = _oracle_full(
        "SELECT source, shard, seq, count(*) AS n_docs,"
        " cast(sum(n_tok) AS bigint) AS n_tok,"
        " md5(array_to_string(list_transform(flatten(list_transform("
        "  list_sort(list(struct_pack(o := off, t := tokens))),"
        "  x -> x.t)), v -> cast(v AS varchar)), ',')) AS tokens_md5"
        " FROM (SELECT source, shard, tokens, n_tok,"
        "  cast(floor(off / 512) AS bigint) AS seq, off FROM"
        "  (SELECT source, doc_id, tokens, cast(n_tok AS bigint) AS n_tok,"
        "   cast(cast(('0x' || substr(md5(doc_id), 1, 8)) AS ubigint) % 2"
        "    AS bigint) AS shard,"
        "   sum(cast(n_tok AS bigint)) OVER (PARTITION BY source,"
        "    cast(cast(('0x' || substr(md5(doc_id), 1, 8)) AS ubigint) % 2"
        "     AS bigint) ORDER BY doc_id ROWS UNBOUNDED PRECEDING)"
        "    - cast(n_tok AS bigint) AS off"
        "   FROM corpus WHERE r = 0))"
        " GROUP BY 1, 2, 3"
    )

    o["drift_rate_anomalies"] = _oracle_full(
        "SELECT key AS source, cast(day AS timestamp) AS day, cnt,"
        " (n_days * cnt - s) * (n_days * cnt - s) >"
        "  4 * (n_days * sq - s * s) AS is_anomaly"
        " FROM daily JOIN stats USING (key)",
        _X_ENRICHED
        + ", daily AS (SELECT source AS key, cast(commit_ts AS date)"
        "  AS day, cast(count(*) AS bigint) AS cnt FROM kept GROUP BY 1, 2),"
        " stats AS (SELECT key, cast(count(*) AS bigint) AS n_days,"
        "  cast(sum(cnt) AS bigint) AS s,"
        "  cast(sum(cnt * cnt) AS bigint) AS sq FROM daily GROUP BY 1)",
    )

    _lag = "(epoch(commit_ts) - epoch(create_ts))"
    o["sink_ingestion_lag"] = _oracle_full(
        "SELECT database_name, table_name,"
        " cast(count(*) AS bigint) AS n,"
        f" cast(floor(avg({_lag})) AS bigint) AS mean_lag_s,"
        f" cast(max({_lag}) AS bigint) AS max_lag_s,"
        f" cast(sum(CASE WHEN {_lag} < 60 THEN 1 ELSE 0 END) AS bigint)"
        "  AS lt_1m,"
        f" cast(sum(CASE WHEN {_lag} >= 60 AND {_lag} < 3600 THEN 1"
        "  ELSE 0 END) AS bigint) AS lt_1h,"
        f" cast(sum(CASE WHEN {_lag} >= 3600 AND {_lag} < 86400 THEN 1"
        "  ELSE 0 END) AS bigint) AS lt_1d,"
        f" cast(sum(CASE WHEN {_lag} >= 86400 THEN 1 ELSE 0 END)"
        "  AS bigint) AS ge_1d"
        " FROM kept GROUP BY 1, 2",
        _X_ENRICHED,
    )

    # resize oracle mirrors the dim math exactly (same double op order)
    # and the byte-stride stub as a char stride (ASCII corpus text)
    _rs_scale = "(256.0 / greatest(w, h))"
    o["multimodal_resize"] = (
        "WITH m AS (SELECT doc_id, coalesce(text, '') AS t,"
        " cast(doc_id % 64 * 16 + 64 AS int) AS w,"
        " cast(doc_id % 48 * 16 + 64 AS int) AS h"
        " FROM documents WHERE doc_id % 3 = 0),"
        " d AS (SELECT doc_id, t, w, h,"
        " CASE WHEN greatest(w, h) <= 256 THEN w ELSE"
        f"  greatest(cast(floor(w * {_rs_scale}) AS int), 1) END AS dw,"
        " CASE WHEN greatest(w, h) <= 256 THEN h ELSE"
        f"  greatest(cast(floor(h * {_rs_scale}) AS int), 1) END AS dh"
        " FROM m),"
        " s AS (SELECT doc_id, w, h, dw, dh,"
        " CASE WHEN greatest(w, h) <= 256 THEN t ELSE"
        "  array_to_string(list_transform(range(1, length(t) + 1,"
        "   greatest((w * h) // greatest(dw * dh, 1), 1)),"
        "   i -> substring(t, cast(i AS int), 1)), '') END AS p"
        " FROM d)"
        " SELECT doc_id, w AS src_width, h AS src_height,"
        " dw AS dst_width, dh AS dst_height,"
        " cast(length(p) AS bigint) AS out_len, md5(p) AS payload_md5"
        " FROM s"
    )

    o["multimodal_frames"] = (
        "WITH m AS (SELECT doc_id, coalesce(text, '') AS t"
        " FROM documents WHERE doc_id % 3 = 2),"
        " f AS (SELECT doc_id, list_transform(range(1,"
        "  greatest(cast(floor(length(t) / 10) AS int), 1) + 1),"
        "  i -> substring(t, cast((i - 1) * 10 + 1 AS int), 10)) AS frames"
        " FROM m)"
        " SELECT doc_id, cast(len(frames) AS bigint) AS n_frames,"
        " md5(array_to_string(list_transform(frames, x -> md5(x)), '|'))"
        "  AS frames_md5 FROM f"
    )

    o["session_funnel"] = (
        "WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events"
        "  WHERE event_type = 'view' GROUP BY 1),"
        " s1 AS (SELECT e.user_id, min(ts) AS t1 FROM events e"
        "  JOIN s0 USING (user_id)"
        "  WHERE event_type = 'click' AND ts > t0 GROUP BY 1),"
        " s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e"
        "  JOIN s1 USING (user_id)"
        "  WHERE event_type = 'purchase' AND ts > t1 GROUP BY 1),"
        " c AS (SELECT (SELECT count(*) FROM s0) AS c0,"
        "  (SELECT count(*) FROM s1) AS c1,"
        "  (SELECT count(*) FROM s2) AS c2)"
        " SELECT cast(0 AS int) AS step_idx, 'view' AS step,"
        "  cast(c0 AS bigint) AS users_reached,"
        "  cast(CASE WHEN c0 = 0 THEN 0 ELSE floor(c0 * 10000 / c0) END"
        "   AS bigint) AS conversion_bp FROM c"
        " UNION ALL SELECT 1, 'click', cast(c1 AS bigint),"
        "  cast(CASE WHEN c0 = 0 THEN 0 ELSE floor(c1 * 10000 / c0) END"
        "   AS bigint) FROM c"
        " UNION ALL SELECT 2, 'purchase', cast(c2 AS bigint),"
        "  cast(CASE WHEN c0 = 0 THEN 0 ELSE floor(c2 * 10000 / c0) END"
        "   AS bigint) FROM c"
    )
    o["session_retention"] = (
        "WITH f AS (SELECT user_id, cast(min(ts) AS date) AS cohort_day"
        "  FROM events GROUP BY 1),"
        " a AS (SELECT DISTINCT user_id, cast(ts AS date) AS day"
        "  FROM events),"
        " j AS (SELECT f.cohort_day,"
        "  datediff('day', f.cohort_day, a.day) AS day_offset"
        "  FROM a JOIN f USING (user_id)"
        "  WHERE datediff('day', f.cohort_day, a.day) <= 30),"
        " sizes AS (SELECT cohort_day, count(*) AS cohort_users"
        "  FROM f GROUP BY 1)"
        " SELECT cast(j.cohort_day AS timestamp) AS cohort_day,"
        " cast(day_offset AS int) AS day_offset,"
        " cast(count(*) AS bigint) AS active_users,"
        " cast(cohort_users AS bigint) AS cohort_users,"
        " cast(floor(count(*) * 10000 / cohort_users) AS bigint)"
        "  AS retention_bp"
        " FROM j JOIN sizes USING (cohort_day)"
        " GROUP BY 1, 2, cohort_users"
    )

    o["events_props_stats"] = (
        "WITH e AS (SELECT event_type,"
        " CASE WHEN event_id % 3 = 0 THEN '{not json'"
        "  WHEN event_id % 5 = 0 THEN '{}' ELSE props END AS p"
        " FROM events),"
        " x AS (SELECT event_type, json_valid(p) AS ok,"
        " CASE WHEN json_valid(p) THEN"
        "  cast(json_extract_string(p, '$.k') AS int) END AS k FROM e)"
        " SELECT event_type, cast(count(*) AS bigint) AS n,"
        " cast(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS bigint) AS n_bad,"
        " cast(sum(CASE WHEN ok AND k IS NULL THEN 1 ELSE 0 END)"
        "  AS bigint) AS n_null,"
        " cast(sum(k) AS bigint) AS k_sum,"
        " cast(min(k) AS bigint) AS k_min,"
        " cast(max(k) AS bigint) AS k_max FROM x GROUP BY 1"
    )

    _rc = "�"  # U+FFFD replacement char, kept out of raw literals
    _enc_inj = (
        f"CASE WHEN doc_id % 6 = 0 THEN ' {_rc}{_rc}x\x01'"
        " WHEN doc_id % 9 = 0 THEN ' café世界' ELSE '' END"
    )
    o["text_encoding_qa"] = (
        "WITH t AS (SELECT doc_id,"
        f" concat(coalesce(text, ''), {_enc_inj}) AS tx FROM documents)"
        " SELECT doc_id, cast(length(tx) AS bigint) AS n_chars,"
        " cast(length(tx) - length(regexp_replace(tx, '�', '', 'g'))"
        "  AS bigint) AS n_repl,"
        " cast(length(tx) - length(regexp_replace(tx,"
        "  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS bigint)"
        "  AS n_ctrl,"
        " CASE WHEN length(tx) = 0 THEN cast(10000 AS bigint)"
        "  ELSE cast(floor(length(regexp_replace(tx,"
        "  '[^\\x20-\\x7E\\t\\n\\r]', '', 'g')) * 10000 / length(tx))"
        "  AS bigint) END AS ascii_bp,"
        " (length(tx) = length(regexp_replace(tx, '�', '', 'g')))"
        " AND (length(tx) = length(regexp_replace(tx,"
        "  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')))"
        " AND (CASE WHEN length(tx) = 0 THEN cast(10000 AS bigint)"
        "  ELSE cast(floor(length(regexp_replace(tx,"
        "  '[^\\x20-\\x7E\\t\\n\\r]', '', 'g')) * 10000 / length(tx))"
        "  AS bigint) END >= 9000) AS ok FROM t"
    )

    _cont_base = (
        "SELECT doc_id, text FROM documents"
        " UNION ALL SELECT doc_id + 100000 AS doc_id,"
        f" array_to_string(list_slice({DW}, 1, 8), ' ') AS text"
        f" FROM documents WHERE len({DW}) >= 20"
    )
    o["dedup_containment"] = (
        f"WITH base AS ({_cont_base}),"
        f" sh AS (SELECT doc_id, unnest(list_distinct({_dsh})) AS shingle"
        f"  FROM base WHERE len({DW}) >= 3),"
        " sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),"
        " hot AS (SELECT shingle FROM sh GROUP BY 1"
        "  HAVING count(*) > 128),"
        " shj AS (SELECT * FROM sh WHERE shingle NOT IN"
        "  (SELECT shingle FROM hot)),"
        " common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "  count(*) AS common FROM shj a JOIN shj b"
        "  ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),"
        " scored AS (SELECT doc_a, doc_b, common,"
        "  cast(floor(common * 10000 / sa.n_sh) AS bigint) AS cont_a_bp,"
        "  cast(floor(common * 10000 / sb.n_sh) AS bigint) AS cont_b_bp"
        "  FROM common JOIN sizes sa ON sa.doc_id = doc_a"
        "  JOIN sizes sb ON sb.doc_id = doc_b)"
        " SELECT * FROM scored"
        " WHERE greatest(cont_a_bp, cont_b_bp) >= 8000"
    )

    o["dedup_containment_kept"] = (
        f"WITH base AS ({_cont_base}),"
        f" sh AS (SELECT doc_id, unnest(list_distinct({_dsh})) AS shingle"
        f"  FROM base WHERE len({DW}) >= 3),"
        " sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),"
        " hot AS (SELECT shingle FROM sh GROUP BY 1"
        "  HAVING count(*) > 128),"
        " shj AS (SELECT * FROM sh WHERE shingle NOT IN"
        "  (SELECT shingle FROM hot)),"
        " common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "  count(*) AS common FROM shj a JOIN shj b"
        "  ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),"
        " scored AS (SELECT doc_a, doc_b,"
        "  cast(floor(common * 10000 / sa.n_sh) AS bigint) AS ca,"
        "  cast(floor(common * 10000 / sb.n_sh) AS bigint) AS cb"
        "  FROM common JOIN sizes sa ON sa.doc_id = doc_a"
        "  JOIN sizes sb ON sb.doc_id = doc_b),"
        " flagged AS (SELECT * FROM scored"
        "  WHERE greatest(ca, cb) >= 8000),"
        " dropped AS (SELECT DISTINCT CASE"
        "  WHEN ca > cb THEN doc_a WHEN cb > ca THEN doc_b"
        "  ELSE greatest(doc_a, doc_b) END AS doc_id FROM flagged)"
        " SELECT doc_id FROM base"
        " WHERE doc_id NOT IN (SELECT doc_id FROM dropped)"
    )

    o["mix_pack_boundaries"] = (
        "WITH d AS (SELECT doc_id, source,"
        " greatest(1, cast(floor(n_chars / 4) AS bigint)) AS n_tok,"
        " cast(cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))"
        "  AS ubigint) % 2 AS bigint) AS shard FROM documents),"
        " p AS (SELECT source, shard, n_tok,"
        " sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id"
        "  ROWS UNBOUNDED PRECEDING) - n_tok AS off FROM d),"
        " r AS (SELECT source, shard, n_tok,"
        " cast(floor(off / 2048) AS bigint) AS seq,"
        " off - cast(floor(off / 2048) AS bigint) * 2048 AS rel"
        " FROM p)"
        " SELECT source, shard, seq, count(*) AS n_docs,"
        " md5(array_to_string(list_transform(list_sort(list(rel)),"
        "  x -> cast(x AS varchar)), ',')) AS boundaries_md5,"
        " cast(floor(max(rel + n_tok) * 10000 / 2048) AS bigint) AS fill_bp"
        " FROM r GROUP BY 1, 2, 3"
    )

    _duck_pre = (
        "cast(('0x' || substr(md5(cast(doc_id AS string)), 1, 8))"
        " AS ubigint)"
    )
    o["mix_shard_assign"] = (
        "WITH d AS (SELECT doc_id, md5(cast(doc_id AS string)) AS h,"
        f" cast({_duck_pre} % 16 AS bigint) AS shard_id FROM documents)"
        " SELECT doc_id, shard_id, cast(row_number() OVER"
        " (PARTITION BY shard_id ORDER BY h) - 1 AS bigint) AS pos FROM d"
    )
    o["mix_shard_manifest"] = (
        f"WITH d AS (SELECT doc_id, n_chars, {_duck_pre} AS pre"
        " FROM documents)"
        " SELECT cast(pre % 16 AS bigint) AS shard_id,"
        " count(*) AS n_docs,"
        " cast(sum(coalesce(n_chars, 0)) AS bigint) AS bytes_total,"
        " cast(sum(pre) AS bigint) AS id_checksum FROM d GROUP BY 1"
    )
    # per-epoch deterministic order: mirror mix.epoch_order (epoch=3)
    o["mix_epoch_order"] = (
        "SELECT doc_id,"
        f" cast({_duck_pre} % 16 AS bigint) AS shard_id,"
        " cast(3 AS int) AS epoch,"
        " md5('3|' || cast(doc_id AS string)) AS order_key"
        " FROM documents"
    )

    _pii_email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _pii_ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    _pii_phone = "\\+?[0-9]{1,3}-[0-9]{3,4}-[0-9]{3,4}"
    o["text_pii_scrub"] = (
        f"WITH p AS (SELECT doc_id, {_PII_INJECT_SQL} AS t0 FROM documents),"
        " s1 AS (SELECT doc_id,"
        f" len(regexp_extract_all(t0, '{_pii_email}')) AS n_email,"
        f" regexp_replace(t0, '{_pii_email}', '<EMAIL>', 'g') AS t1 FROM p),"
        " s2 AS (SELECT doc_id, n_email,"
        f" len(regexp_extract_all(t1, '{_pii_ip}')) AS n_ipv4,"
        f" regexp_replace(t1, '{_pii_ip}', '<IP>', 'g') AS t2 FROM s1),"
        " s3 AS (SELECT doc_id, n_email, n_ipv4,"
        f" len(regexp_extract_all(t2, '{_pii_phone}')) AS n_phone,"
        f" regexp_replace(t2, '{_pii_phone}', '<PHONE>', 'g') AS t3 FROM s2)"
        " SELECT doc_id, cast(n_email AS bigint) AS n_email,"
        " cast(n_ipv4 AS bigint) AS n_ipv4,"
        " cast(n_phone AS bigint) AS n_phone,"
        " cast(length(t3) AS bigint) AS clean_len, md5(t3) AS clean_fp"
        " FROM s3"
    )

    o["mix_contamination"] = (
        f"WITH tr AS (SELECT doc_id, unnest(list_distinct({_dsh})) AS shingle"
        f" FROM documents WHERE doc_id % 20 <> 0 AND len({DW}) >= 3),"
        f" ho AS (SELECT DISTINCT unnest(list_distinct({_dsh})) AS shingle"
        f" FROM documents WHERE doc_id % 20 = 0 AND len({DW}) >= 3)"
        " SELECT tr.doc_id, count(DISTINCT tr.shingle) AS shared_shingles"
        " FROM tr JOIN ho USING (shingle) GROUP BY 1"
    )
    o["dedup_ngram_jaccard"] = (
        f"WITH sh AS (SELECT doc_id, unnest(list_distinct({_dsh})) AS shingle"
        f" FROM documents WHERE len({DW}) >= 3),"
        " sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),"
        # stop-shingle DF cap mirrored from ngram_jaccard_pairs(max_df=128):
        # denominator (sizes) stays full, only candidate generation is capped
        " hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > 128),"
        " shj AS (SELECT * FROM sh WHERE shingle NOT IN"
        "  (SELECT shingle FROM hot)),"
        " common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "  count(*) AS common FROM shj a JOIN shj b ON a.shingle = b.shingle"
        "  AND a.doc_id < b.doc_id GROUP BY 1, 2)"
        " SELECT doc_a, doc_b, common,"
        "  cast(floor(common * 10000 / (sa.n_sh + sb.n_sh - common)) AS bigint)"
        "  AS jaccard_bp"
        " FROM common JOIN sizes sa ON sa.doc_id = doc_a"
        " JOIN sizes sb ON sb.doc_id = doc_b"
        " WHERE common * 10000 / (sa.n_sh + sb.n_sh - common) >= 5000"
    )

    _cos64 = (
        "list_dot_product(cast(q_emb AS double[]), cast(embedding AS double[]))"
        " / nullif(sqrt(list_dot_product(cast(q_emb AS double[]),"
        " cast(q_emb AS double[]))) * sqrt(list_dot_product("
        " cast(embedding AS double[]), cast(embedding AS double[]))), 0.0)"
    )
    o["ann_cosine_topk"] = (
        "WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb"
        " FROM embeddings WHERE vec_id < 10),"
        " scored AS (SELECT query_id, vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),"
        " ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY cosine_bp DESC, vec_id ASC) AS rank FROM scored)"
        " SELECT query_id, vec_id, cosine_bp, cast(rank AS int) AS rank"
        " FROM ranked WHERE rank <= 10"
    )
    # int8-quantized brute force: integer dot/norms are EXACT in doubles,
    # so no fold-order caveat applies — full score gate
    _q8 = (
        "CASE WHEN list_max(list_transform(cast({c} AS double[]),"
        " x -> abs(x))) = 0.0 THEN list_transform(cast({c} AS double[]), x -> 0)"
        " ELSE list_transform(cast({c} AS double[]), x -> cast(round("
        "  x / (list_max(list_transform(cast({c} AS double[]), x -> abs(x)))"
        "  / 127.0)) AS int)) END"
    )
    _cos_q8 = (
        "list_dot_product(cast(q_q AS double[]), cast(q AS double[]))"
        " / nullif(sqrt(list_dot_product(cast(q_q AS double[]),"
        " cast(q_q AS double[]))) * sqrt(list_dot_product("
        " cast(q AS double[]), cast(q AS double[]))), 0.0)"
    )
    o["ann_cosine_int8"] = (
        f"WITH qd AS (SELECT vec_id, {_q8.format(c='embedding')} AS q"
        " FROM embeddings),"
        " qs AS (SELECT vec_id AS query_id, q AS q_q FROM qd WHERE vec_id < 10),"
        " scored AS (SELECT query_id, vec_id,"
        f"  cast(round(({_cos_q8}) * 10000) AS bigint) AS cosine_bp"
        "  FROM qd CROSS JOIN qs WHERE vec_id <> query_id),"
        " ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY cosine_bp DESC, vec_id ASC) AS rank FROM scored)"
        " SELECT query_id, vec_id, cosine_bp, cast(rank AS int) AS rank"
        " FROM ranked WHERE rank <= 10"
    )
    # BLAS matmul path: same ranking, scores omitted (rank-set gate — see
    # queries()['ann_blas_topk'] for why the float column is excluded)
    o["ann_blas_topk"] = (
        "WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb"
        " FROM embeddings WHERE vec_id < 10),"
        " scored AS (SELECT query_id, vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),"
        " ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY cosine_bp DESC, vec_id ASC) AS rank FROM scored)"
        " SELECT query_id, vec_id, cast(rank AS int) AS rank"
        " FROM ranked WHERE rank <= 10"
    )
    # banded sign-LSH twin expressions (identical Rademacher plane constants
    # inlined on both sides — operators/similarity.py)
    from binlog_processer_spark.operators.similarity import (
        DEFAULT_BANDS,
        DEFAULT_PLANES,
        duck_sign_signature,
    )

    _r = DEFAULT_PLANES // DEFAULT_BANDS
    _band_vals = ", ".join(f"({b})" for b in range(DEFAULT_BANDS))
    _sig = duck_sign_signature(DEFAULT_PLANES)

    o["ann_cosine_lsh"] = (
        f"WITH sigs AS (SELECT vec_id, {_sig} AS sig FROM embeddings),"
        f" bands AS (SELECT vec_id, b.band_id,"
        f"  substr(sig, b.band_id * {_r} + 1, {_r}) AS band"
        f"  FROM sigs CROSS JOIN (VALUES {_band_vals}) b(band_id)),"
        " qb AS (SELECT vec_id AS query_id, band_id, band FROM bands"
        "  WHERE vec_id < 10),"
        " cand AS (SELECT DISTINCT qb.query_id, v.vec_id FROM bands v"
        "  JOIN qb ON v.band_id = qb.band_id AND v.band = qb.band"
        "  AND v.vec_id <> qb.query_id),"
        " q AS (SELECT vec_id AS query_id, embedding AS q_emb"
        "  FROM embeddings WHERE vec_id < 10),"
        " scored AS (SELECT c.query_id, c.vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM cand c JOIN embeddings ON embeddings.vec_id = c.vec_id"
        "  JOIN q ON q.query_id = c.query_id),"
        " ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY cosine_bp DESC, vec_id ASC) AS rank FROM scored)"
        " SELECT query_id, vec_id, cosine_bp, cast(rank AS int) AS rank"
        " FROM ranked WHERE rank <= 5"
    )
    # recall@5 of the banded sign-LSH arm against the exact ranking —
    # composes the two arms above into one statement (similarity.topk_recall)
    o["ann_recall"] = (
        f"WITH sigs AS (SELECT vec_id, {_sig} AS sig FROM embeddings),"
        f" bands AS (SELECT vec_id, b.band_id,"
        f"  substr(sig, b.band_id * {_r} + 1, {_r}) AS band"
        f"  FROM sigs CROSS JOIN (VALUES {_band_vals}) b(band_id)),"
        " qb AS (SELECT vec_id AS query_id, band_id, band FROM bands"
        "  WHERE vec_id < 10),"
        " cand AS (SELECT DISTINCT qb.query_id, v.vec_id FROM bands v"
        "  JOIN qb ON v.band_id = qb.band_id AND v.band = qb.band"
        "  AND v.vec_id <> qb.query_id),"
        " q AS (SELECT vec_id AS query_id, embedding AS q_emb"
        "  FROM embeddings WHERE vec_id < 10),"
        " scored_a AS (SELECT c.query_id, c.vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM cand c JOIN embeddings ON embeddings.vec_id = c.vec_id"
        "  JOIN q ON q.query_id = c.query_id),"
        " sel_a AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        "  OVER (PARTITION BY query_id ORDER BY cosine_bp DESC, vec_id ASC)"
        "  AS rank FROM scored_a) WHERE rank <= 5),"
        " scored_e AS (SELECT query_id, vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),"
        " sel_e AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        "  OVER (PARTITION BY query_id ORDER BY cosine_bp DESC, vec_id ASC)"
        "  AS rank FROM scored_e) WHERE rank <= 5),"
        " ne AS (SELECT query_id, count(*) AS n_exact FROM sel_e"
        "  GROUP BY 1),"
        " hits AS (SELECT a.query_id, count(*) AS hits FROM sel_a a"
        "  JOIN sel_e e ON a.query_id = e.query_id"
        "  AND a.vec_id = e.vec_id GROUP BY 1)"
        " SELECT ne.query_id,"
        " cast(floor(coalesce(hits, 0) * 10000 / n_exact) AS bigint)"
        " AS recall_bp"
        " FROM ne LEFT JOIN hits ON ne.query_id = hits.query_id"
    )
    _cos_vc = (
        "list_dot_product(cast(embedding AS double[]), cast(c_emb AS double[]))"
        " / nullif(sqrt(list_dot_product(cast(embedding AS double[]),"
        " cast(embedding AS double[]))) * sqrt(list_dot_product("
        " cast(c_emb AS double[]), cast(c_emb AS double[]))), 0.0)"
    )
    _cos_qc = _cos_vc.replace("embedding", "q_emb").replace("c_emb", "c_emb")
    _ivf_ctes = (
        "e AS (SELECT vec_id, embedding FROM embeddings),"
        " cent AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e"
        "  ORDER BY md5(cast(vec_id AS varchar)), vec_id LIMIT 16),"
        " assign AS (SELECT vec_id, centroid_id FROM ("
        "  SELECT v.vec_id, c.centroid_id, row_number() OVER ("
        "   PARTITION BY v.vec_id ORDER BY"
        f"   cast(round(({_cos_vc}) * 10000000) AS bigint) DESC,"
        "   c.centroid_id) AS rn"
        "  FROM e v CROSS JOIN cent c) WHERE rn = 1),"
        " q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e"
        "  WHERE vec_id < 10),"
        " probes AS (SELECT query_id, centroid_id FROM ("
        "  SELECT q.query_id, c.centroid_id, row_number() OVER ("
        "   PARTITION BY q.query_id ORDER BY"
        f"   cast(round(({_cos_qc}) * 10000000) AS bigint) DESC,"
        "   c.centroid_id) AS rn"
        "  FROM q CROSS JOIN cent c) WHERE rn <= 4),"
        " cand AS (SELECT query_id, a.vec_id FROM probes"
        "  JOIN assign a USING (centroid_id) WHERE a.vec_id <> query_id),"
        " scored AS (SELECT c.query_id, c.vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM cand c JOIN e ON e.vec_id = c.vec_id"
        "  JOIN q ON q.query_id = c.query_id),"
        " ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY cosine_bp DESC, vec_id ASC) AS rank FROM scored)"
    )
    o["ann_ivf_topk"] = (
        "WITH " + _ivf_ctes
        + " SELECT query_id, vec_id, cosine_bp, cast(rank AS int) AS rank"
        " FROM ranked WHERE rank <= 5"
    )
    # probing the MATERIALIZED index is bit-identical to computing it
    # inline (same fixed-point scoring, same tie order), so the probe
    # query shares the inline oracle verbatim — the hash match is the
    # build-once/probe-many equivalence proof
    o["ann_ivf_probe"] = o["ann_ivf_topk"]
    # recall@5 of the IVF arm vs the exact ranking — second consumer of
    # similarity.topk_recall, proving the gate generalizes across arms
    o["ann_recall_ivf"] = (
        "WITH " + _ivf_ctes + ","
        " sel_a AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 5),"
        " scored_e AS (SELECT query_id, vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM e CROSS JOIN q WHERE vec_id <> query_id),"
        " sel_e AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        "  OVER (PARTITION BY query_id ORDER BY cosine_bp DESC, vec_id ASC)"
        "  AS rank FROM scored_e) WHERE rank <= 5),"
        " ne AS (SELECT query_id, count(*) AS n_exact FROM sel_e"
        "  GROUP BY 1),"
        " hits AS (SELECT a.query_id, count(*) AS hits FROM sel_a a"
        "  JOIN sel_e x ON a.query_id = x.query_id"
        "  AND a.vec_id = x.vec_id GROUP BY 1)"
        " SELECT ne.query_id,"
        " cast(floor(coalesce(hits, 0) * 10000 / n_exact) AS bigint)"
        " AS recall_bp"
        " FROM ne LEFT JOIN hits ON ne.query_id = hits.query_id"
    )

    # k-means-refined IVF: the fixed-point Lloyd canon (similarity.py
    # kmeans_refine — 1e-7-grain integer component sums, half-away mean
    # rounding) is a pure function of the corpus, so the oracle replays
    # the refinement with one (assign, sums, new-centroids) CTE round
    # per iteration, then runs the standard probe/score/rank tail.
    def _ivf_refined_ctes(n_iters: int, n_cent: int, d: int) -> str:
        ctes = [
            "e AS (SELECT vec_id, embedding FROM embeddings)",
            "cent0 AS MATERIALIZED (SELECT vec_id AS centroid_id,"
            " cast(embedding AS double[]) AS c_emb FROM e"
            f" ORDER BY md5(cast(vec_id AS varchar)), vec_id LIMIT {n_cent})",
        ]
        for t in range(n_iters + 1):
            # assignment to cent{t}; rounds t < n_iters feed refinement,
            # round n_iters is the candidate-fetch assignment
            ctes.append(
                f"asg{t} AS MATERIALIZED ("
                " SELECT vec_id, centroid_id, embedding FROM ("
                "  SELECT v.vec_id, c.centroid_id, v.embedding,"
                "  row_number() OVER (PARTITION BY v.vec_id ORDER BY"
                f"  cast(round(({_cos_vc}) * 10000000) AS bigint) DESC,"
                "  c.centroid_id) AS rn"
                f"  FROM e v CROSS JOIN cent{t} c) WHERE rn = 1)"
            )
            if t == n_iters:
                break
            ctes.append(
                f"sums{t} AS ("
                " SELECT centroid_id, dim,"
                " cast(sum(cast(round(cast(embedding[dim] AS double)"
                " * 10000000) AS bigint)) AS bigint) AS s,"
                " cast(count(*) AS bigint) AS cnt"
                f" FROM asg{t} CROSS JOIN (SELECT"
                f" unnest(generate_series(1, {d})) AS dim) g"
                " GROUP BY 1, 2)"
            )
            ctes.append(
                f"cent{t+1} AS MATERIALIZED ("
                " SELECT c.centroid_id, coalesce(m.nc, c.c_emb) AS c_emb"
                f" FROM cent{t} c LEFT JOIN ("
                "  SELECT centroid_id, list(cast(round(cast(s AS double)"
                "  / cnt) AS bigint) / 10000000.0 ORDER BY dim) AS nc"
                f"  FROM sums{t} GROUP BY centroid_id) m USING (centroid_id))"
            )
        return ",\n ".join(ctes)

    _rT = 2  # refine_iters in queries()['ann_ivf_refined']
    o["ann_ivf_refined"] = (
        "WITH " + _ivf_refined_ctes(_rT, 16, 64) + ","
        " q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e"
        "  WHERE vec_id < 10),"
        " probes AS (SELECT query_id, centroid_id FROM ("
        "  SELECT q.query_id, c.centroid_id, row_number() OVER ("
        "   PARTITION BY q.query_id ORDER BY"
        f"   cast(round(({_cos_qc}) * 10000000) AS bigint) DESC,"
        "   c.centroid_id) AS rn"
        f"  FROM q CROSS JOIN cent{_rT} c) WHERE rn <= 4),"
        f" cand AS (SELECT query_id, a.vec_id FROM probes"
        f"  JOIN asg{_rT} a USING (centroid_id)"
        "  WHERE a.vec_id <> query_id),"
        " scored AS (SELECT c.query_id, c.vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM cand c JOIN e ON e.vec_id = c.vec_id"
        "  JOIN q ON q.query_id = c.query_id),"
        " ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY cosine_bp DESC, vec_id ASC) AS rank FROM scored)"
        " SELECT query_id, vec_id, cosine_bp, cast(rank AS int) AS rank"
        " FROM ranked WHERE rank <= 5"
    )
    # logistic-regression quality gate (operators/classifier.py): the
    # fixed-point canon (1e-9 integer weight grid, 1e-7 error grain,
    # integer margins and gradient sums) makes training a pure function
    # of the corpus, so the oracle replays the full-batch GD loop with
    # one (margin, error, gradient, weight-update) CTE round per
    # iteration and then scores + aggregates the confusion counts.
    def _quality_classifier_oracle(
        k: int, n_iters: int, threshold_bp: int
    ) -> str:
        hash_sql = (
            f"cast(('0x' || substr(md5(w), 1, 8))::bigint % {k} AS int)"
        )
        ctes = [
            "feats AS MATERIALIZED ("
            " SELECT doc_id, source, cast(length(text) > 120 AS int) AS y,"
            " list_append(list_transform(list_filter("
            "  str_split_regex(trim(coalesce(text, '')), '\\s+'),"
            f"  w -> length(w) > 0), w -> {hash_sql}), {k}) AS idxs"
            " FROM documents)",
            "occ AS MATERIALIZED (SELECT doc_id, unnest(idxs) AS idx"
            " FROM feats)",
            "nn AS (SELECT cast(count(*) AS bigint) AS n FROM feats)",
            f"w0 AS (SELECT unnest(generate_series(0, {k})) AS idx,"
            " cast(0 AS bigint) AS wf)",
        ]
        for t in range(n_iters):
            ctes.append(
                f"m{t} AS MATERIALIZED ("
                " SELECT o.doc_id, cast(sum(w.wf) AS bigint) AS mfp"
                f" FROM occ o JOIN w{t} w USING (idx) GROUP BY 1)"
            )
            ctes.append(
                f"e{t} AS MATERIALIZED ("
                " SELECT f.doc_id, cast(round((1e0 / (1e0 + exp(-("
                " cast(m.mfp AS double) / 1e9))) - f.y) * 1e7)"
                " AS bigint) AS efp"
                f" FROM feats f JOIN m{t} m USING (doc_id))"
            )
            ctes.append(
                f"g{t} AS (SELECT o.idx, cast(sum(e.efp) AS bigint) AS gf"
                f" FROM occ o JOIN e{t} e USING (doc_id) GROUP BY 1)"
            )
            ctes.append(
                f"w{t+1} AS MATERIALIZED ("
                " SELECT w.idx, cast(round((cast(w.wf AS double) / 1e9"
                " - 5e-1 * ((cast(coalesce(g.gf, 0) AS double) / 1e7) / n"
                " + 1e-4 * (cast(w.wf AS double) / 1e9))) * 1e9)"
                " AS bigint) AS wf"
                f" FROM w{t} w LEFT JOIN g{t} g USING (idx) CROSS JOIN nn)"
            )
        T = n_iters
        ctes.append(
            f"mf AS (SELECT o.doc_id, cast(sum(w.wf) AS bigint) AS mfp"
            f" FROM occ o JOIN w{T} w USING (idx) GROUP BY 1)"
        )
        ctes.append(
            "pred AS (SELECT f.doc_id, f.source, f.y,"
            " CASE WHEN cast(round(1e4 / (1e0 + exp(-("
            " cast(m.mfp AS double) / 1e9)))) AS bigint)"
            f" >= {threshold_bp} THEN 1 ELSE 0 END AS p"
            " FROM feats f JOIN mf m USING (doc_id))"
        )
        return (
            "WITH " + ",\n ".join(ctes)
            + " SELECT source,"
            " cast(sum(p * y) AS bigint) AS tp,"
            " cast(sum(p * (1 - y)) AS bigint) AS fp,"
            " cast(sum((1 - p) * y) AS bigint) AS fn,"
            " cast(sum((1 - p) * (1 - y)) AS bigint) AS tn,"
            " cast(floor((sum(p * y) + sum((1 - p) * (1 - y))) * 1000000"
            " / count(*)) AS bigint) AS accuracy_ppm"
            " FROM pred GROUP BY source ORDER BY source"
        )

    o["quality_classifier"] = _quality_classifier_oracle(
        k=64, n_iters=15, threshold_bp=5000
    )
    # clustering-quality report over the same refined centroids: the
    # 1e-7-grain sim_fp sum is integer, so the mean is order-independent
    o["ann_kmeans_quality"] = (
        "WITH " + _ivf_refined_ctes(_rT, 16, 64) + ","
        " simq AS (SELECT a.vec_id, a.centroid_id,"
        f"  cast(round(({_cos_vc}) * 10000000) AS bigint) AS sim_fp"
        f"  FROM asg{_rT} a JOIN cent{_rT} c USING (centroid_id))"
        " SELECT cast(round((cast(sum(sim_fp) AS double) / count(*))"
        " / 1000.0) AS bigint) AS mean_sim_bp,"
        " cast(count(DISTINCT centroid_id) AS bigint) AS live_clusters,"
        " cast(count(*) AS bigint) AS vectors FROM simq"
    )
    # product quantization: md5-seeded codebooks (code = md5-order rank),
    # per-subspace squared-L2 on the normalized vector rounded to 1e7
    # fixed point BEFORE any sum — encode argmin and the ADC sum are then
    # integer, so both engines agree exactly (similarity.py pq_topk;
    # m=4 subspaces x dsub=16 dims, ks=8 codewords). The d2 here uses the
    # algebraic |v|²-2v·c+|c|² form vs Spark's squared-diff fold —
    # identical far below the 1e-7 rounding grain.
    _pq_ctes = (
        "e AS (SELECT vec_id, embedding FROM embeddings),"
        " n AS (SELECT vec_id, list_transform(cast(embedding AS double[]),"
        "  x -> x / sqrt(list_dot_product(cast(embedding AS double[]),"
        "  cast(embedding AS double[])))) AS u FROM e),"
        " seeds AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1"
        "  AS code, u FROM (SELECT md5(cast(vec_id AS varchar)) AS h,"
        "  vec_id, u FROM n ORDER BY h, vec_id LIMIT 8)),"
        " grid AS (SELECT j FROM generate_series(0, 3) t(j)),"
        " books AS (SELECT j, code,"
        "  list_slice(u, j*16 + 1, j*16 + 16) AS cw"
        "  FROM seeds CROSS JOIN grid),"
        " vsub AS (SELECT vec_id, j,"
        "  list_slice(u, j*16 + 1, j*16 + 16) AS vs"
        "  FROM n CROSS JOIN grid),"
        " dists AS (SELECT v.vec_id, b.j, b.code,"
        "  cast(round((list_dot_product(vs, vs)"
        "   - 2*list_dot_product(vs, cw)"
        "   + list_dot_product(cw, cw)) * 10000000) AS bigint) AS d2fp"
        "  FROM vsub v JOIN books b ON b.j = v.j),"
        " codes AS (SELECT vec_id, j, code FROM (SELECT d.*,"
        "  row_number() OVER (PARTITION BY vec_id, j"
        "   ORDER BY d2fp, code) AS rn FROM dists d) WHERE rn = 1),"
        " qd AS (SELECT vec_id AS query_id, j, code, d2fp FROM dists"
        "  WHERE vec_id < 10),"
        " pq_scored AS (SELECT qd.query_id, c.vec_id,"
        "  cast(sum(qd.d2fp) AS bigint) AS adc_fp"
        "  FROM codes c JOIN qd ON qd.j = c.j AND qd.code = c.code"
        "  WHERE c.vec_id <> qd.query_id GROUP BY 1, 2),"
        " pq_ranked AS (SELECT *, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY adc_fp ASC, vec_id ASC)"
        "  AS rank FROM pq_scored)"
    )
    o["ann_pq_topk"] = (
        "WITH " + _pq_ctes
        + " SELECT query_id, vec_id, adc_fp, cast(rank AS int) AS rank"
        " FROM pq_ranked WHERE rank <= 5"
    )
    o["ann_recall_pq"] = (
        "WITH " + _pq_ctes + ","
        " sel_a AS (SELECT query_id, vec_id FROM pq_ranked"
        "  WHERE rank <= 5),"
        " q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e"
        "  WHERE vec_id < 10),"
        " scored_e AS (SELECT query_id, vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM e CROSS JOIN q WHERE vec_id <> query_id),"
        " sel_e AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        "  OVER (PARTITION BY query_id ORDER BY cosine_bp DESC, vec_id ASC)"
        "  AS rank FROM scored_e) WHERE rank <= 5),"
        " ne AS (SELECT query_id, count(*) AS n_exact FROM sel_e"
        "  GROUP BY 1),"
        " hits AS (SELECT a.query_id, count(*) AS hits FROM sel_a a"
        "  JOIN sel_e x ON a.query_id = x.query_id"
        "  AND a.vec_id = x.vec_id GROUP BY 1)"
        " SELECT ne.query_id,"
        " cast(floor(coalesce(hits, 0) * 10000 / n_exact) AS bigint)"
        " AS recall_bp"
        " FROM ne LEFT JOIN hits ON ne.query_id = hits.query_id"
    )
    # IVFADC: coarse assignment (ivf canon) → element-wise residuals →
    # residual codebooks from the md5 seeds' OWN residuals → per-list
    # query LUTs → integer ADC. Same algebraic-d2-vs-fold caveat as the
    # PQ oracle (identical far below the 1e-7 rounding grain).
    _ivfadc_ctes = (
        "e AS (SELECT vec_id, embedding FROM embeddings),"
        " n AS (SELECT vec_id, list_transform(cast(embedding AS double[]),"
        "  x -> x / sqrt(list_dot_product(cast(embedding AS double[]),"
        "  cast(embedding AS double[])))) AS u FROM e),"
        " cent AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e"
        "  ORDER BY md5(cast(vec_id AS varchar)), vec_id LIMIT 16),"
        " cu AS (SELECT centroid_id,"
        "  list_transform(cast(c_emb AS double[]),"
        "  x -> x / sqrt(list_dot_product(cast(c_emb AS double[]),"
        "  cast(c_emb AS double[])))) AS cuv FROM cent),"
        " assign AS (SELECT vec_id, centroid_id FROM ("
        "  SELECT v.vec_id, c.centroid_id, row_number() OVER ("
        "   PARTITION BY v.vec_id ORDER BY"
        f"   cast(round(({_cos_vc}) * 10000000) AS bigint) DESC,"
        "   c.centroid_id) AS rn"
        "  FROM e v CROSS JOIN cent c) WHERE rn = 1),"
        " resid AS (SELECT a.vec_id, a.centroid_id,"
        "  list_transform(generate_series(1, 64),"
        "  i -> n.u[i] - cu.cuv[i]) AS r"
        "  FROM assign a JOIN n USING (vec_id)"
        "  JOIN cu USING (centroid_id)),"
        # seeds skip the first 16 md5-order rows: those ARE the coarse
        # centroids, whose residuals are ~zero (degenerate codewords)
        " seedres AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1"
        "  AS code, r FROM (SELECT md5(cast(vec_id AS varchar)) AS h,"
        "  vec_id, r FROM resid ORDER BY h, vec_id LIMIT 16 OFFSET 16)),"
        " grid AS (SELECT j FROM generate_series(0, 31) t(j)),"
        " rbooks AS (SELECT j, code,"
        "  list_slice(r, j*2 + 1, j*2 + 2) AS cw"
        "  FROM seedres CROSS JOIN grid),"
        " rsub AS (SELECT vec_id, centroid_id, j,"
        "  list_slice(r, j*2 + 1, j*2 + 2) AS rs"
        "  FROM resid CROSS JOIN grid),"
        " rdists AS (SELECT v.vec_id, v.centroid_id, b.j, b.code,"
        "  cast(round((list_dot_product(rs, rs)"
        "   - 2*list_dot_product(rs, cw)"
        "   + list_dot_product(cw, cw)) * 10000000) AS bigint) AS d2fp"
        "  FROM rsub v JOIN rbooks b ON b.j = v.j),"
        " rcodes AS (SELECT vec_id, centroid_id, j, code FROM ("
        "  SELECT d.*, row_number() OVER (PARTITION BY vec_id, j"
        "   ORDER BY d2fp, code) AS rn FROM rdists d) WHERE rn = 1),"
        " q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e"
        "  WHERE vec_id < 10),"
        " probes AS (SELECT query_id, centroid_id FROM ("
        "  SELECT q.query_id, c.centroid_id, row_number() OVER ("
        "   PARTITION BY q.query_id ORDER BY"
        f"   cast(round(({_cos_qc}) * 10000000) AS bigint) DESC,"
        "   c.centroid_id) AS rn"
        "  FROM q CROSS JOIN cent c) WHERE rn <= 4),"
        " qresid AS (SELECT p.query_id, p.centroid_id,"
        "  list_transform(generate_series(1, 64),"
        "  i -> qn.u[i] - cu.cuv[i]) AS rq"
        "  FROM probes p JOIN n qn ON qn.vec_id = p.query_id"
        "  JOIN cu USING (centroid_id)),"
        " qsub AS (SELECT query_id, centroid_id, j,"
        "  list_slice(rq, j*2 + 1, j*2 + 2) AS rs"
        "  FROM qresid CROSS JOIN grid),"
        " qlut AS (SELECT s.query_id, s.centroid_id, b.j, b.code,"
        "  cast(round((list_dot_product(rs, rs)"
        "   - 2*list_dot_product(rs, cw)"
        "   + list_dot_product(cw, cw)) * 10000000) AS bigint) AS d2fp"
        "  FROM qsub s JOIN rbooks b ON b.j = s.j),"
        " adc_scored AS (SELECT l.query_id, c.vec_id,"
        "  cast(sum(l.d2fp) AS bigint) AS adc_fp"
        "  FROM rcodes c JOIN qlut l ON l.centroid_id = c.centroid_id"
        "  AND l.j = c.j AND l.code = c.code"
        "  WHERE c.vec_id <> l.query_id GROUP BY 1, 2),"
        " adc_ranked AS (SELECT *, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY adc_fp ASC, vec_id ASC)"
        "  AS rank FROM adc_scored)"
    )
    o["ann_ivfadc_topk"] = (
        "WITH " + _ivfadc_ctes
        + " SELECT query_id, vec_id, adc_fp, cast(rank AS int) AS rank"
        " FROM adc_ranked WHERE rank <= 5"
    )
    o["ann_recall_ivfadc"] = (
        "WITH " + _ivfadc_ctes + ","
        " sel_a AS (SELECT query_id, vec_id FROM adc_ranked"
        "  WHERE rank <= 5),"
        " scored_e AS (SELECT query_id, vec_id,"
        f"  cast(round(({_cos64}) * 10000) AS bigint) AS cosine_bp"
        "  FROM e CROSS JOIN q WHERE vec_id <> query_id),"
        " sel_e AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        "  OVER (PARTITION BY query_id ORDER BY cosine_bp DESC, vec_id ASC)"
        "  AS rank FROM scored_e) WHERE rank <= 5),"
        " ne AS (SELECT query_id, count(*) AS n_exact FROM sel_e"
        "  GROUP BY 1),"
        " hits AS (SELECT a.query_id, count(*) AS hits FROM sel_a a"
        "  JOIN sel_e x ON a.query_id = x.query_id"
        "  AND a.vec_id = x.vec_id GROUP BY 1)"
        " SELECT ne.query_id,"
        " cast(floor(coalesce(hits, 0) * 10000 / n_exact) AS bigint)"
        " AS recall_bp"
        " FROM ne LEFT JOIN hits ON ne.query_id = hits.query_id"
    )
    _cos_ab = (
        "list_dot_product(a.embedding, b.embedding)"
        " / nullif(sqrt(list_dot_product(a.embedding, a.embedding))"
        " * sqrt(list_dot_product(b.embedding, b.embedding)), 0.0)"
    )
    o["dedup_embedding_cosine"] = (
        "WITH aug AS ("
        " SELECT vec_id, cast(embedding AS double[]) AS embedding FROM embeddings"
        " UNION ALL"
        " SELECT vec_id + 100000,"
        "  list_transform(cast(embedding AS double[]), x -> x + 0.01)"
        " FROM embeddings WHERE vec_id % 10 = 0),"
        f" sigs AS (SELECT vec_id, {_sig} AS sig FROM aug),"
        f" bands AS (SELECT vec_id, b.band_id,"
        f"  substr(sig, b.band_id * {_r} + 1, {_r}) AS band"
        f"  FROM sigs CROSS JOIN (VALUES {_band_vals}) b(band_id)),"
        " cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b"
        "  FROM bands l JOIN bands r ON l.band_id = r.band_id"
        "  AND l.band = r.band AND l.vec_id < r.vec_id)"
        f" SELECT id_a, id_b,"
        f"  cast(round(({_cos_ab}) * 10000) AS bigint) AS cosine_bp"
        "  FROM cand JOIN aug a ON a.vec_id = id_a"
        "  JOIN aug b ON b.vec_id = id_b"
        "  WHERE cosine_bp >= 9000"
    )
    # SemDeDup: same augmented set; candidates share an IVF cluster
    # (nearest-of-16 deterministic centroids) instead of an LSH band
    o["dedup_semantic_clustered"] = (
        "WITH aug AS ("
        " SELECT vec_id, cast(embedding AS double[]) AS embedding FROM embeddings"
        " UNION ALL"
        " SELECT vec_id + 100000,"
        "  list_transform(cast(embedding AS double[]), x -> x + 0.01)"
        " FROM embeddings WHERE vec_id % 10 = 0),"
        " cent AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM aug"
        "  ORDER BY md5(cast(vec_id AS varchar)), vec_id LIMIT 16),"
        " assign AS (SELECT vec_id, centroid_id FROM ("
        "  SELECT v.vec_id, c.centroid_id, row_number() OVER ("
        "   PARTITION BY v.vec_id ORDER BY"
        f"   cast(round(({_cos_vc}) * 10000000) AS bigint) DESC,"
        "   c.centroid_id) AS rn"
        "  FROM aug v CROSS JOIN cent c) WHERE rn = 1)"
        f" SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
        f"  cast(round(({_cos_ab}) * 10000) AS bigint) AS cosine_bp"
        "  FROM assign l JOIN assign r"
        "  ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id"
        "  JOIN aug a ON a.vec_id = l.vec_id"
        "  JOIN aug b ON b.vec_id = r.vec_id"
        "  WHERE cosine_bp >= 9000"
    )

    _nw = f"CASE WHEN {nonempty} THEN len({DW}) ELSE 0 END"
    _bpe = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"
    o["text_token_counts"] = (
        f"SELECT doc_id, cast({_nw} AS int) AS ws_tokens,"
        f" cast(len(regexp_extract_all(coalesce(text, ''), '{_bpe}')) AS int)"
        " AS bpe_tokens,"
        " cast(ceil(length(coalesce(text, '')) / 4.0) AS int) AS subword_est,"
        " cast(length(coalesce(text, '')) AS int) AS n_chars FROM documents"
    )
    _stop = ", ".join(
        f"'{w}'"
        for w in ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
    )
    _stop_bp = (
        f"CASE WHEN {nonempty} THEN cast(floor(len(list_filter({DW},"
        f" w -> list_contains([{_stop}], lower(w)))) * 10000 / len({DW}))"
        f" AS bigint) ELSE 0 END"
    )
    _mwl_bp = (
        f"CASE WHEN ({_nw}) = 0 THEN 0 ELSE"
        f" cast(floor(length(array_to_string({DW}, '')) * 10000 / ({_nw})) AS bigint) END"
    )
    o["text_quality"] = (
        f"SELECT doc_id, cast({_nw} AS int) AS n_words,"
        f" {_mwl_bp} AS mean_word_len_bp, {_stop_bp} AS stopword_bp,"
        f" cast((CASE WHEN ({_nw}) BETWEEN 10 AND 1000 THEN 4000 ELSE 0 END)"
        f" + (CASE WHEN ({_mwl_bp}) BETWEEN 30000 AND 80000 THEN 3000 ELSE 0 END)"
        f" + (CASE WHEN ({_stop_bp}) > 0 THEN 3000 ELSE 0 END) AS bigint)"
        " AS quality_bp FROM documents"
    )
    # filter-funnel cascade: same five boolean stages as
    # text.default_funnel_stages, same floor/integer arithmetic
    _dist_bp = (
        f"CASE WHEN ({_nw}) = 0 THEN 0 ELSE"
        f" cast(floor(len(list_distinct({DW})) * 10000 / ({_nw}))"
        " AS bigint) END"
    )
    _funnel_flags = [
        ("lang_allowed", "lang IN ('en', 'de', 'fr')"),
        ("min_words", f"({_nw}) >= 15"),
        ("max_words", f"({_nw}) <= 80"),
        ("stopword_floor", f"({_stop_bp}) >= 200"),
        ("distinct_ratio", f"({_dist_bp}) >= 5500"),
    ]
    _funnel_src = "SELECT " + ", ".join(
        f"({cond}) AS f{i}" for i, (_, cond) in enumerate(_funnel_flags)
    ) + " FROM documents"
    o["text_filter_funnel"] = " UNION ALL ".join(
        f"SELECT cast({i} AS int) AS stage_idx, '{name}' AS stage,"
        f" cast(sum(CASE WHEN f{i} THEN 0 ELSE 1 END) AS bigint)"
        " AS fail_marginal,"
        " cast(sum(CASE WHEN "
        + " AND ".join(f"f{j}" for j in range(i + 1))
        + f" THEN 1 ELSE 0 END) AS bigint) AS survivors"
        f" FROM ({_funnel_src})"
        for i, (name, _) in enumerate(_funnel_flags)
    )
    o["text_filter_kept"] = (
        "SELECT doc_id, source FROM documents WHERE "
        + " AND ".join(f"({cond})" for _, cond in _funnel_flags)
    )
    # exact per-source holdout: k smallest md5 prefixes (ties by doc_id);
    # the Spark side ranks on the SAME 8-hex prefix + id order
    o["mix_holdout_carve"] = (
        "SELECT source, doc_id FROM ("
        " SELECT source, doc_id, row_number() OVER ("
        "  PARTITION BY source"
        "  ORDER BY substr(md5(cast(doc_id AS varchar)), 1, 8), doc_id)"
        " AS rn FROM documents) WHERE rn <= 25"
    )
    # curriculum report: same composite score + BPE-ish counter, binned
    o["mix_quality_budget"] = (
        "SELECT source, cast(floor(qbp / 2500) AS int) AS quality_bin,"
        " cast(count(*) AS bigint) AS n_docs,"
        " cast(sum(bpe) AS bigint) AS tok_budget"
        " FROM ("
        f"  SELECT source,"
        f"  (cast((CASE WHEN ({_nw}) BETWEEN 10 AND 1000 THEN 4000 ELSE 0 END)"
        f"   + (CASE WHEN ({_mwl_bp}) BETWEEN 30000 AND 80000 THEN 3000 ELSE 0 END)"
        f"   + (CASE WHEN ({_stop_bp}) > 0 THEN 3000 ELSE 0 END) AS bigint)) AS qbp,"
        f"  cast(len(regexp_extract_all(coalesce(text, ''), '{_bpe}')) AS int) AS bpe"
        "  FROM documents)"
        " GROUP BY 1, 2"
    )
    _pred = (
        f"CASE WHEN ({_stop_bp}) >= 800 THEN 'en'"
        f" WHEN (CASE WHEN {nonempty} THEN"
        f" length(array_to_string({DW}, '')) / len({DW}) ELSE 0 END) < 4"
        " THEN 'short' ELSE 'unk' END"
    )
    o["text_lang_id"] = (
        f"SELECT doc_id, lang AS labeled_lang, {_pred} AS pred_lang,"
        f" ({_pred}) = lang AS lang_match FROM documents"
    )
    o["text_fingerprints"] = (
        f"SELECT doc_id, md5({DNORM}) AS content_fp,"
        f" CASE WHEN len({DW}) < 3 THEN md5('') ELSE"
        f" md5(array_to_string(list_sort(list_distinct({_dsh})), '|')) END"
        " AS shingle_fp FROM documents"
    )

    # streaming surfaces: single-batch AvailableNow ≡ batch semantics
    o["streaming_sink_counts"] = _oracle_full(sink_counts_sql, _X_ENRICHED)
    o["streaming_running_totals"] = _oracle_full(
        "SELECT source, op, count(*) AS cnt, max(commit_ts) AS max_commit_ts"
        " FROM corpus GROUP BY 1, 2"
    )
    o["streaming_windowed_histogram"] = _oracle_full(
        "SELECT source, date_trunc('day', commit_ts) AS win_start,"
        " cast(sum(CASE WHEN op = 'Create' THEN 1 ELSE 0 END) AS bigint) AS insert_cnt,"
        " cast(sum(CASE WHEN op = 'Update' THEN 1 ELSE 0 END) AS bigint) AS update_cnt,"
        " cast(sum(CASE WHEN op = 'Delete' THEN 1 ELSE 0 END) AS bigint) AS delete_cnt,"
        " max(commit_ts) AS win_watermark"
        " FROM corpus GROUP BY 1, 2"
        # append mode: a window emits only once the event-time watermark
        # (global max commit_ts − 2h) passes its END
        " HAVING date_trunc('day', commit_ts) + to_days(1) <="
        " (SELECT max(commit_ts) - to_hours(2) FROM corpus)"
    )
    o["streaming_session_stats"] = _oracle_full(
        "SELECT source, doc_id, cast(count(*) AS bigint) AS n_events,"
        " min(commit_ts) AS session_start, max(commit_ts) AS session_end"
        " FROM (SELECT *, cast(sum(brk) OVER (PARTITION BY source, doc_id"
        "  ORDER BY commit_ts, event_seq ROWS UNBOUNDED PRECEDING)"
        "  AS bigint) AS sid FROM"
        "  (SELECT c.*, CASE WHEN cast(epoch(commit_ts) AS bigint) -"
        "   cast(epoch(lag(commit_ts) OVER (PARTITION BY source, doc_id"
        "   ORDER BY commit_ts, event_seq)) AS bigint) > 240*60"
        "   THEN 1 ELSE 0 END AS brk FROM corpus c) t) s"
        " GROUP BY source, doc_id, sid"
        # append mode: a session emits once the final event-time watermark
        # (global max commit_ts − 2h) passes its window END (last + gap)
        " HAVING max(commit_ts) + to_minutes(240) <="
        " (SELECT max(commit_ts) - to_hours(2) FROM corpus)"
    )
    o["streaming_stateful_totals"] = _oracle_full(
        "SELECT source,"
        " cast(sum(CASE WHEN op = 'Create' THEN 1 ELSE 0 END) AS bigint) AS insert_cnt,"
        " cast(sum(CASE WHEN op = 'Update' THEN 1 ELSE 0 END) AS bigint) AS update_cnt,"
        " cast(sum(CASE WHEN op = 'Delete' THEN 1 ELSE 0 END) AS bigint) AS delete_cnt,"
        " max(commit_ts) AS max_commit_ts FROM corpus GROUP BY 1"
    )
    # replay-invariance: the oracle sees the corpus exactly once; the Spark
    # side must erase the re-delivered segment to match
    o["streaming_dedup_ingest"] = _oracle_full(
        "SELECT source, cast(count(*) AS bigint) AS n_events,"
        " cast(sum(event_seq) AS bigint) AS sum_seq"
        " FROM corpus GROUP BY source"
    )
    # streaming upsert-apply must land exactly on batch final_state
    # (tombstones included) no matter the micro-batch split
    o["streaming_final_state"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, final_op, final_ts,"
        f" {_duck_md5_arr('final_tokens')} AS final_tokens_md5,"
        " cast(len(final_tokens) AS int) AS final_n_tok, final_seq"
        " FROM final_state",
        _X_ENRICHED + "," + _X_FINAL_STATE,
    )
    # interval-join attribution: same ack synthesis (lag = event_seq % 7
    # minutes, doc_id % 11 == 3 never acks), same 5-minute bound
    o["streaming_ack_lag"] = _oracle_full(
        "SELECT k.database_name, k.table_name,"
        " cast(count(*) AS bigint) AS n_acked,"
        " cast(sum(date_diff('second', k.commit_ts, a.ack_ts)) AS bigint)"
        "  AS sum_lag_s,"
        " cast(count(DISTINCT k.doc_id) AS bigint) AS n_docs_acked"
        " FROM kept k JOIN"
        " (SELECT database_name, table_name, doc_id, event_seq,"
        "   commit_ts + to_minutes(event_seq % 7) AS ack_ts"
        "  FROM kept WHERE cast(doc_id AS bigint) % 11 <> 3) a"
        " ON a.database_name = k.database_name"
        " AND a.table_name = k.table_name AND a.doc_id = k.doc_id"
        " AND a.event_seq = k.event_seq"
        " WHERE a.ack_ts >= k.commit_ts"
        " AND a.ack_ts <= k.commit_ts + to_minutes(5)"
        " GROUP BY 1, 2",
        _X_ENRICHED,
    )
    # SCD2: windowed validity close; WHERE op filter must run AFTER the
    # window (Deletes close predecessors), hence the subquery
    _SCD2_INNER = (
        "SELECT database_name, table_name, doc_id, event_seq, op,"
        " commit_ts AS valid_from,"
        " lead(commit_ts) OVER (PARTITION BY database_name, table_name,"
        "  doc_id ORDER BY event_seq, commit_ts) AS valid_to"
        " FROM kept"
    )
    o["scd2_history"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, event_seq,"
        " valid_from, valid_to, valid_to IS NULL AS is_current"
        f" FROM ({_SCD2_INNER}) WHERE op <> 'Delete'",
        _X_ENRICHED,
    )
    o["scd2_asof"] = _oracle_full(
        "SELECT database_name, table_name, doc_id, event_seq, valid_from"
        f" FROM ({_SCD2_INNER}) s,"
        " (SELECT max(commit_ts) - to_hours(36) AS t FROM kept) pit"
        " WHERE s.op <> 'Delete' AND s.valid_from <= pit.t"
        " AND (s.valid_to IS NULL OR s.valid_to > pit.t)",
        _X_ENRICHED,
    )
    # left-outer arm: unacked = never-acked docs (doc_id%11==3) plus
    # out-of-window acks (event_seq%7==6); time bounds live in the ON
    # clause so non-qualifying acks leave the event unmatched
    o["streaming_unacked"] = _oracle_full(
        "SELECT k.database_name, k.table_name,"
        " cast(count(*) AS bigint) AS n_unacked,"
        " cast(sum(k.event_seq) AS bigint) AS sum_seq_unacked,"
        " cast(count(DISTINCT k.doc_id) AS bigint) AS n_docs_unacked"
        " FROM kept k LEFT JOIN"
        " (SELECT database_name, table_name, doc_id, event_seq,"
        "   commit_ts + to_minutes(event_seq % 7) AS ack_ts"
        "  FROM kept WHERE cast(doc_id AS bigint) % 11 <> 3) a"
        " ON a.database_name = k.database_name"
        " AND a.table_name = k.table_name AND a.doc_id = k.doc_id"
        " AND a.event_seq = k.event_seq"
        " AND a.ack_ts >= k.commit_ts"
        " AND a.ack_ts <= k.commit_ts + to_minutes(5)"
        " WHERE a.ack_ts IS NULL"
        " GROUP BY 1, 2",
        _X_ENRICHED,
    )
    # fact-to-fact as-of join: DuckDB's native ASOF JOIN is the oracle;
    # tolerance (1 day) expressed as a post-match CASE on the lag
    o["asof_checkpoints"] = _oracle_full(
        "SELECT database_name, table_name,"
        " cast(count(*) AS bigint) AS n_events,"
        " cast(count(CASE WHEN ok THEN 1 END) AS bigint) AS n_matched,"
        " cast(coalesce(sum(CASE WHEN ok THEN ck_seq END), 0) AS bigint)"
        "  AS sum_ck_seq,"
        " cast(coalesce(sum(CASE WHEN ok THEN lag_s END), 0) AS bigint)"
        "  AS sum_lag_s"
        " FROM ("
        "  SELECT k.database_name, k.table_name, c.ck_seq,"
        "   date_diff('second', c.ck_ts, k.commit_ts) AS lag_s,"
        "   c.ck_ts IS NOT NULL AND"
        "    date_diff('second', c.ck_ts, k.commit_ts) <= 86400 AS ok"
        "  FROM kept k ASOF LEFT JOIN ckpt c"
        "  ON k.database_name = c.database_name"
        "  AND k.table_name = c.table_name AND k.commit_ts >= c.ck_ts)"
        " GROUP BY 1, 2",
        _X_ENRICHED + ","
        " ckpt AS (SELECT database_name, table_name, commit_ts AS ck_ts,"
        "  max(event_seq) AS ck_seq FROM kept WHERE event_seq % 37 = 0"
        "  GROUP BY 1, 2, 3)",
    )
    # bloom-pruned point lookups must equal the plain filter
    o["probe_point_lookup"] = (
        "SELECT doc_id, source, md5(text) AS text_md5 FROM documents"
        " WHERE doc_id % 97 = 13"
    )
    # z-order-pruned scans must equal the plain filters on every probe
    o["probe_zorder"] = (
        "WITH d AS (SELECT doc_id, source, text,"
        " cast(length(text) AS int) AS n_chars FROM documents)"
        " SELECT 'doc_id' AS probe, doc_id, source, n_chars,"
        "  md5(text) AS text_md5 FROM d WHERE doc_id BETWEEN 10 AND 99"
        " UNION ALL"
        " SELECT 'n_chars', doc_id, source, n_chars, md5(text)"
        "  FROM d WHERE n_chars BETWEEN 50 AND 300"
        " UNION ALL"
        " SELECT 'box', doc_id, source, n_chars, md5(text) FROM d"
        "  WHERE doc_id BETWEEN 100 AND 399"
        "  AND n_chars BETWEEN 100 AND 500"
    )
    # multimodal features: the payload is utf-8 text bytes and the driver's
    # documents.text is pure ASCII at every sf (verified octet_length ==
    # length), so byte-level features ARE SQL-expressible via per-char ascii()
    o["multimodal_features"] = (
        "WITH t AS (SELECT doc_id, coalesce(text, '') AS t FROM documents)"
        " SELECT doc_id,"
        " CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
        "  ELSE 'video' END AS modality,"
        " cast(length(t) AS int) AS n_bytes,"
        " cast(coalesce(list_sum(list_transform(range(1, length(t) + 1),"
        "  i -> ascii(substr(t, i, 1)))), 0) AS bigint) AS checksum,"
        " cast(doc_id % 64 * 16 + 64 AS int) AS width,"
        " cast(doc_id % 48 * 16 + 64 AS int) AS height,"
        " md5(array_to_string(list_transform([0, 1, 2, 3], k ->"
        "  cast(len(list_filter(range(1, length(t) + 1),"
        "  i -> ascii(substr(t, i, 1)) // 64 = k)) AS int)), ',')) AS feat_md5"
        " FROM t"
    )
    # real PPM decode: dims from media_dims, payload size from the P6
    # header layout ('P6 w h 255\\n' = 9 + digits(w) + digits(h) bytes,
    # then w*h*3 raw), checksum = sum over the media_pixels closed form
    # (doc_id*7 + y*3 + x*5 + c*11) % 256 — all recomputed in SQL
    o["multimodal_real_decode"] = (
        "WITH d AS (SELECT doc_id,"
        "  (doc_id % 16) * 4 + 8 AS w, (doc_id % 12) * 4 + 8 AS h"
        "  FROM documents),"
        # fixed pixel grid up to the max dims (w<=68, h<=52), theta-joined
        # per doc — DuckDB's generate_series takes no lateral parameters
        " g AS (SELECT y.g AS y, x.g AS x, c.g AS c"
        "  FROM generate_series(0, 51) y(g), generate_series(0, 67) x(g),"
        "       generate_series(0, 2) c(g))"
        " SELECT d.doc_id,"
        " cast(9 + length(cast(d.w AS varchar))"
        "  + length(cast(d.h AS varchar)) + d.w * d.h * 3 AS int)"
        "  AS n_bytes,"
        " cast(sum((d.doc_id * 7 + g.y * 3 + g.x * 5 + g.c * 11) % 256)"
        "  AS bigint) AS checksum,"
        " cast(d.w AS int) AS width, cast(d.h AS int) AS height"
        " FROM d JOIN g ON g.y < d.h AND g.x < d.w"
        " GROUP BY d.doc_id, d.w, d.h"
    )
    # real WAV decode: params from media_audio_params (n = doc_id%128*16
    # + 128 <= 2160, rate = 8000 + doc_id%4*4000), payload size = 44-byte
    # canonical RIFF header + 2 bytes/sample, checksum = sum over the
    # media_samples closed form (doc_id*13 + i*7 + i*i*3) % 4096 - 2048
    o["multimodal_audio_decode"] = (
        "WITH d AS (SELECT doc_id,"
        "  (doc_id % 128) * 16 + 128 AS n,"
        "  8000 + (doc_id % 4) * 4000 AS rate"
        "  FROM documents),"
        " g AS (SELECT g AS i FROM generate_series(0, 2159) t(g))"
        " SELECT d.doc_id,"
        " cast(44 + d.n * 2 AS int) AS n_bytes,"
        " cast(sum((d.doc_id * 13 + g.i * 7 + g.i * g.i * 3) % 4096"
        "  - 2048) AS bigint) AS checksum,"
        " cast(d.n AS int) AS width, cast(d.rate AS int) AS height"
        " FROM d JOIN g ON g.i < d.n"
        " GROUP BY d.doc_id, d.n, d.rate"
    )
    # Streaming CMS: drained counters == batch counters (addition merge)
    # — every (row, bucket) counter recomputed in SQL (streaming/
    # sketch_stream.py streaming_cms_counters; depth 4, width 1024)
    o["streaming_cms_counters"] = _oracle_full(
        "SELECT row, bucket, cast(count(*) AS bigint) AS cnt"
        " FROM ("
        "  SELECT r.i AS row,"
        "   cast(cast(('0x' || substr(md5(cast(r.i AS varchar) || ':' ||"
        "        cast(o.token AS varchar)), 1, 8)) AS ubigint) % 1024"
        "        AS int) AS bucket"
        "  FROM (SELECT unnest(tokens) AS token FROM kept) o"
        "  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r)"
        " GROUP BY 1, 2 ORDER BY 1, 2",
        _X_ENRICHED,
    )
    # Streaming quantile sketch: per-batch bottom-k samples merged by
    # union+re-truncate are bit-identical to the batch sample, so the
    # oracle is sketch_quantiles_kmv's estimate arm (streaming/
    # sketch_stream.py streaming_quantiles)
    o["streaming_quantiles"] = _oracle_full(
        "SELECT source, cast(max(k_used) AS int) AS k_used,"
        " cast(max(CASE WHEN vrk = floor((k_used-1)*50/100)+1"
        "          THEN val END) AS bigint) AS q50_est,"
        " cast(max(CASE WHEN vrk = floor((k_used-1)*95/100)+1"
        "          THEN val END) AS bigint) AS q95_est"
        " FROM ("
        "  SELECT source, val,"
        "   row_number() OVER (PARTITION BY source"
        "                      ORDER BY val, event_seq) AS vrk,"
        "   count(*) OVER (PARTITION BY source) AS k_used"
        "  FROM ("
        "   SELECT source, cast(n_tok AS bigint) AS val, event_seq,"
        "    row_number() OVER (PARTITION BY source"
        "                       ORDER BY h, event_seq) AS rk"
        "   FROM (SELECT source, n_tok, event_seq,"
        "         cast(('0x' || substr(md5(cast(event_seq AS varchar)),"
        "              1, 8)) AS ubigint) AS h"
        "         FROM kept))"
        "  WHERE rk <= 128)"
        " GROUP BY source ORDER BY source",
        _X_ENRICHED,
    )
    # Mergeable quantile sketch: bottom-128 rows per source by the
    # (md5-prefix row hash, event_seq) total order form a uniform
    # sample; lower-nearest-rank order statistics at q50/q95 next to
    # the same rule over the full data (sketch.py kmv_sample_quantiles)
    o["sketch_quantiles_kmv"] = _oracle_full(
        "SELECT est.source, n_rows, k_used, q50_est, q50_exact,"
        " q95_est, q95_exact,"
        " cast(abs(q50_est - q50_exact) AS bigint) AS q50_abs_err,"
        " cast(abs(q95_est - q95_exact) AS bigint) AS q95_abs_err"
        " FROM ("
        "  SELECT source, cast(max(k_used) AS int) AS k_used,"
        "   cast(max(CASE WHEN vrk = floor((k_used-1)*50/100)+1"
        "            THEN val END) AS bigint) AS q50_est,"
        "   cast(max(CASE WHEN vrk = floor((k_used-1)*95/100)+1"
        "            THEN val END) AS bigint) AS q95_est"
        "  FROM ("
        "   SELECT source, val,"
        "    row_number() OVER (PARTITION BY source"
        "                       ORDER BY val, event_seq) AS vrk,"
        "    count(*) OVER (PARTITION BY source) AS k_used"
        "   FROM ("
        "    SELECT source, cast(n_tok AS bigint) AS val, event_seq,"
        "     row_number() OVER (PARTITION BY source"
        "                        ORDER BY h, event_seq) AS rk"
        "    FROM (SELECT source, n_tok, event_seq,"
        "          cast(('0x' || substr(md5(cast(event_seq AS varchar)),"
        "               1, 8)) AS ubigint) AS h"
        "          FROM kept))"
        "   WHERE rk <= 128)"
        "  GROUP BY source) est"
        " JOIN ("
        "  SELECT source, cast(max(n_rows) AS bigint) AS n_rows,"
        "   cast(max(CASE WHEN vrk = floor((n_rows-1)*50/100)+1"
        "            THEN val END) AS bigint) AS q50_exact,"
        "   cast(max(CASE WHEN vrk = floor((n_rows-1)*95/100)+1"
        "            THEN val END) AS bigint) AS q95_exact"
        "  FROM ("
        "   SELECT source, cast(n_tok AS bigint) AS val,"
        "    row_number() OVER (PARTITION BY source"
        "                       ORDER BY n_tok, event_seq) AS vrk,"
        "    count(*) OVER (PARTITION BY source) AS n_rows"
        "   FROM kept)"
        "  GROUP BY source) ex USING (source)"
        " ORDER BY source",
        _X_ENRICHED,
    )
    # HLL rollup cube: finest-grain (route) registers built once, then
    # folded by register max into database and global levels — same
    # register/estimate math as sketch_distinct_hll (sketch.py hll_rollup)
    o["sketch_hll_rollup"] = _oracle_full(
        "SELECT level, key, zero_registers, sum_scaled,"
        " cast(floor("
        "  CASE WHEN (6490054181368802e0 / sum_scaled) <= 2560e0"
        "       AND zero_registers > 0"
        "  THEN 1024e0 * ln(1024e0 / zero_registers)"
        "  ELSE 6490054181368802e0 / sum_scaled END) AS bigint)"
        "  AS est_distinct"
        " FROM ("
        "  SELECT level, key,"
        "   cast(1024 - count(*) AS bigint) AS zero_registers,"
        "   cast(sum(cast(2.0 ** (33 - rho) AS bigint))"
        "        + (1024 - count(*)) * 8589934592 AS bigint) AS sum_scaled"
        "  FROM ("
        "   SELECT 'table' AS level, route AS key, bucket, rho FROM regs"
        "   UNION ALL"
        "   SELECT 'database', database_name, bucket, max(rho)"
        "   FROM regs GROUP BY 1, 2, 3"
        "   UNION ALL"
        "   SELECT 'global', '*', bucket, max(rho)"
        "   FROM regs GROUP BY 1, 2, 3)"
        "  GROUP BY 1, 2)"
        " ORDER BY level, key",
        _X_ENRICHED
        + """,
regs AS (
  SELECT route, database_name, cast(floor(h / 4194304) AS int) AS bucket,
         cast(max(CASE WHEN h % 4194304 = 0 THEN 23
              ELSE 23 - length(to_base(cast(h % 4194304 AS bigint), 2))
              END) AS int) AS rho
  FROM (SELECT route, database_name,
        cast(('0x' || substr(md5(cast(token AS varchar)), 1, 8))
             AS ubigint) AS h
        FROM (SELECT route, database_name, unnest(tokens) AS token
              FROM kept))
  GROUP BY 1, 2, 3)
""",
    )
    # k-anonymity audit: equivalence classes over (database, table, op,
    # commit day); risk_ppm = ppm of rows in below-k classes
    # (privacy.py k_anonymity_report, k=5)
    o["privacy_k_anonymity"] = _oracle_full(
        "SELECT database_name,"
        " cast(sum(class_size) AS bigint) AS n_rows,"
        " cast(count(*) AS bigint) AS n_classes,"
        " cast(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)"
        "      AS bigint) AS classes_below_k,"
        " cast(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)"
        "      AS bigint) AS rows_below_k,"
        " cast(min(class_size) AS bigint) AS min_class_size,"
        " cast(floor(sum(CASE WHEN class_size < 5 THEN class_size"
        "      ELSE 0 END) * 1000000 / sum(class_size)) AS bigint)"
        "  AS risk_ppm"
        " FROM ("
        "  SELECT database_name, table_name, op,"
        "   cast(commit_ts AS date) AS commit_day,"
        "   cast(count(*) AS bigint) AS class_size"
        "  FROM kept GROUP BY 1, 2, 3, 4)"
        " GROUP BY database_name ORDER BY database_name",
        _X_ENRICHED,
    )
    # wide-form PIVOT op counters (aggregate.py sink_op_pivot)
    o["sink_op_pivot"] = _oracle_full(
        "SELECT database_name, table_name,"
        " cast(sum(CASE WHEN op = 'Create' THEN 1 ELSE 0 END) AS bigint)"
        "  AS n_create,"
        " cast(sum(CASE WHEN op = 'Update' THEN 1 ELSE 0 END) AS bigint)"
        "  AS n_update,"
        " cast(sum(CASE WHEN op = 'Delete' THEN 1 ELSE 0 END) AS bigint)"
        "  AS n_delete,"
        " cast(count(*) AS bigint) AS n_total"
        " FROM kept GROUP BY 1, 2 ORDER BY 1, 2",
        _X_ENRICHED,
    )
    # exact ROLLUP counts, grouped keys coalesced to '*' on rolled-up
    # levels (aggregate.py sink_counts_rollup)
    o["sink_counts_rollup"] = _oracle_full(
        "SELECT CASE WHEN GROUPING(database_name) = 1 THEN '*'"
        "  ELSE database_name END AS database_name,"
        " CASE WHEN GROUPING(table_name) = 1 THEN '*'"
        "  ELSE table_name END AS table_name,"
        " cast(count(*) AS bigint) AS n_events"
        " FROM kept GROUP BY ROLLUP (database_name, table_name)"
        " ORDER BY 1, 2",
        _X_ENRICHED,
    )
    # dense daily timeline: calendar explode over each sink's activity
    # span, zero-filled counts, running-max (= forward-filled) watermark
    # (aggregate.py timeline_densify)
    o["timeline_densify"] = _oracle_full(
        "SELECT c.database_name, c.table_name, c.day,"
        " cast(coalesce(day_events, 0) AS bigint) AS events,"
        " max(day_max_ts) OVER (PARTITION BY c.database_name,"
        "  c.table_name ORDER BY c.day ROWS BETWEEN UNBOUNDED PRECEDING"
        "  AND CURRENT ROW) AS watermark_ts"
        " FROM ("
        "  SELECT database_name, table_name,"
        "   unnest(generate_series(cast(d0 AS timestamp),"
        "        cast(d1 AS timestamp), INTERVAL 1 DAY)) AS day"
        "  FROM (SELECT database_name, table_name, min(day) AS d0,"
        "        max(day) AS d1 FROM daily GROUP BY 1, 2)) c"
        " LEFT JOIN daily d USING (database_name, table_name, day)"
        " ORDER BY 1, 2, 3",
        _X_ENRICHED
        + """,
daily AS (
  SELECT database_name, table_name,
         cast(cast(commit_ts AS date) AS timestamp) AS day,
         cast(count(*) AS bigint) AS day_events,
         max(commit_ts) AS day_max_ts
  FROM kept GROUP BY 1, 2, 3)
""",
    )
    return o
