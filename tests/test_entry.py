"""Driver-contract smoke tests for __spark_entry__ (the interface the
per-round harness calls)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(qs) >= 60
    # every oracle key must be a registered query
    assert set(osql) <= set(qs)
    # the vast majority must carry a SQL oracle (driver's strong check)
    assert len(osql) >= 0.85 * len(qs)


def test_entry_queries_wrap_registry(spark):
    """The entry wrappers must expose exactly the registry and build
    working DataFrames through the tune_session wrapper.

    r15 (VERDICT r14 #2): this test used to BUILD all ~321 queries — 437 s
    of the 39-minute profile run — duplicating work the oracle sweep
    already does: tests/test_oracle_parity.py builds AND EXECUTES every
    registry query at sf0.001 (compare_query for the oracle-backed set,
    count() for the rows-only set).  The entry contract itself — wrapper
    keys match the registry, wrappers apply tune_session and return the
    underlying DataFrame — is exercised by a spot-build plus the
    structural check that every wrapper is that one template."""
    from tensorbase_spark.queries import registry

    SF0001 = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    reg = registry()
    assert set(qs) == set(reg)
    # every wrapper is the SAME closure template bound to its own query's
    # function, so the spot-build below speaks for all ~321 of them
    assert len({w.__code__ for w in qs.values()}) == 1
    for name, w in qs.items():
        assert [c.cell_contents for c in w.__closure__] == [reg[name].fn], name
    for name in ("q1_pricing_summary", "dedup_exact", "events_sessionize"):
        df = qs[name](spark, SF0001)
        assert df.columns, f"{name} returned no columns"


def test_read_avro_missing_path_error(spark):
    """The pure-Python Avro fallback (no spark-avro jar in this build) must
    fail fast driver-side on a missing path, not ship a doomed job."""
    import pytest
    from tensorbase_spark.sources import external

    with pytest.raises(FileNotFoundError):
        external.read_avro(spark, "/tmp/nonexistent.avro")
