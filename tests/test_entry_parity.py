"""Driver-gate rehearsal: run every queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet, compare row count +
columns + values (order-insensitive), mimicking CORRECTNESS_r{N}.json.

Runs at sf0.001 for speed; the driver uses sf0.01 (spot-checked manually).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.parity_util import assert_frames_match

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert_frames_match(name, spark_pdf, duck_pdf)


# DuckDB sum() is HUGEINT, which pandas reads as float64 ("32.0" vs Spark's
# bigint 32): the driver's value hash tells them apart; the local canon does not.
INTEGER_COUNTS = [
    ("token_entropy", "n_words"),
    ("chunk_dedup", "n_kept"),
    ("curation_pipeline", "n_kept"),
]


@pytest.mark.parametrize("name,col", INTEGER_COUNTS)
def test_count_columns_are_integer_in_both_engines(spark, duck, name, col):
    spark_pdf = entry_mod.queries()[name](spark, SF_DIR).select(col).toPandas()
    duck_pdf = duck.execute(entry_mod.oracle_sql()[name]).df()
    for engine, pdf in (("spark", spark_pdf), ("duckdb", duck_pdf)):
        assert pd.api.types.is_integer_dtype(pdf[col]), (
            f"{name}.{col}: {engine} returned {pdf[col].dtype}"
        )


def test_rows_only_queries(spark):
    for name in set(entry_mod.queries()) - set(ORACLE_KEYS):
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.schema) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
