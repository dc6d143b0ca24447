import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_processer_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def split_raw_inputs(spark, tmp_path):
    """Two raw-event parquet dirs for resumed pipeline CLI runs: a subset
    of the input files (file_ids ``*-f0``/``*-f1``), then all of them. The
    second run appends one more file to every sink partition the first run
    wrote — the fragmentation an append-per-run sink accumulates, which the
    compactor then has work to merge."""
    from pyspark.sql import functions as F

    from binlog_processer_spark.functions.parse import serialize_expr
    from binlog_processer_spark.sources.generator import generate_corpus

    corpus = generate_corpus(spark, 5000)
    part, full = str(tmp_path / "raw_part"), str(tmp_path / "raw_full")
    corpus.filter(F.col("file_id").rlike("-f[01]$")).select(
        serialize_expr().alias("raw")
    ).write.parquet(part)
    corpus.select(serialize_expr().alias("raw")).write.parquet(full)
    return part, full
