"""Guards the driver contract: entry() produces rows with a stable
schema; every queries() entry runs at sf0.001; every oracle_sql() entry
is valid DuckDB SQL over the pre-registered views. A regression here is
a failed round even if the library itself is healthy."""

from __future__ import annotations

import os
import warnings

import duckdb
import pytest

import __spark_entry__ as entrymod

from .conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["error_code", "cnt"]


def test_oracles_cover_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every SQL-expressible operator family has an oracle
    assert len(oracles) >= 19


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs(spark, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF)
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_parses_and_runs(duck, name):
    rel = duck.sql(entrymod.oracle_sql()[name])
    rel.fetchall()


def test_pattern_ratio_oracle_text_is_unchanged():
    """The regex oracle is a raw string (``'\\{'`` is an invalid escape
    in a plain literal); its text must stay byte-identical."""
    want = (
        "\n            SELECT count(props)::BIGINT AS n_nonnull,\n"
        "                   count(CASE WHEN regexp_matches(props, '^\\{\"k\": \\d+\\}$')\n"
        "                              THEN 1 END)::BIGINT AS n_matching,\n"
        "                   round(count(CASE WHEN regexp_matches(props,\n"
        "                                        '^\\{\"k\": \\d+\\}$')\n"
        "                               THEN 1 END)::DOUBLE\n"
        "                         / count(props)::DOUBLE, 6) AS ratio\n"
        "            FROM events\n        "
    )
    assert entrymod.oracle_sql()["pattern_ratio_events_props"] == want


def test_entry_module_compiles_without_warnings():
    path = entrymod.__file__
    with open(path) as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, path, "exec")
