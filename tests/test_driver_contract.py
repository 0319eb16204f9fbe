"""The driver contract, self-checked: every queries() entry runs and —
where an oracle exists — matches DuckDB exactly at sf0.01 (the scale
the driver's CORRECTNESS gate uses)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from oracle_utils import compare_query

SF_DIR = "/root/testdata/sf0.01"

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "ord"}


def test_every_oracle_key_has_a_query():
    assert set(_ORACLES) <= set(_QUERIES)


@pytest.mark.parametrize("name", sorted(_QUERIES), ids=sorted(_QUERIES))
def test_query_against_oracle(spark, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        ok, detail = compare_query(spark, SF_DIR, fn, _ORACLES[name])
        assert ok, f"{name}: {detail}"
    else:
        # rows-only contract for non-SQL-expressible ops
        assert fn(spark, SF_DIR).count() > 0


def test_duplicate_registration_is_rejected(monkeypatch):
    import types

    real = entrymod._all_modules()
    taken = next(iter(real[0].ORACLES))  # registered as query and oracle
    dup = types.ModuleType("planted_duplicate")
    dup.QUERIES = {taken: lambda spark, sf_dir: None}
    dup.ORACLES = {taken: "SELECT 1"}
    monkeypatch.setattr(entrymod, "_all_modules", lambda: (*real, dup))
    with pytest.raises(ValueError, match="registered twice"):
        entrymod.queries()
    with pytest.raises(ValueError, match="registered twice"):
        entrymod.oracle_sql()
