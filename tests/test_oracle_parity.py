"""Replicates the driver's correctness gate in-repo: every registry query
runs on Spark AND on DuckDB (oracle SQL) over sf0.001; row multisets must
match exactly (sorted-column compare, driver-style)."""

import hashlib

import pytest

from dygiepp_spark.registry import QUERIES

from conftest import SF_DIR, rows_match


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    spec = QUERIES[name]
    df = spec.build(spark, SF_DIR)
    if spec.sql is None:
        assert df.count() >= 0
        return
    rel = duck.sql(spec.sql)
    assert rows_match(df, rel)


def test_oracle_sql_strings_pinned():
    """The 82 queries keep their names and order, and the 78 oracle SQL
    strings keep their bytes: one sha256 over name, NUL, sql, NUL per gated
    query in QUERIES order. An intended oracle change updates the digest
    in the same change that explains it."""
    h = hashlib.sha256()
    gated = 0
    for name, spec in QUERIES.items():
        if spec.sql is None:
            continue
        gated += 1
        h.update(name.encode() + b"\0" + spec.sql.encode() + b"\0")
    assert len(QUERIES) == 82
    assert gated == 78
    assert h.hexdigest() == (
        "b783e2c1f5f63bfd14e4babbb77cb9f425a6ae7732ccced4c1c62dbc9b40b059"
    )
