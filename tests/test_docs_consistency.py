"""The coverage ledger must match the registry (r3 verdict #3: stale totals
in COVERAGE.md).  Parses the Totals line and compares against registry()."""

from __future__ import annotations

import re


def test_coverage_totals_match_registry():
    from tensorbase_spark.queries import registry

    reg = registry()
    text = open("COVERAGE.md").read()
    m = re.search(
        r"\*\*Totals:\s*(\d+)\s+driver queries,\s*(\d+)\s+with full DuckDB"
        r"\s+value-hash oracles,\s*(\d+)\s+rows-only",
        text,
    )
    assert m, "COVERAGE.md Totals line missing or reworded"
    total, oracle, rows_only = (int(g) for g in m.groups())
    assert total == len(reg), (total, len(reg))
    n_oracle = sum(1 for q in reg.values() if q.oracle)
    assert oracle == n_oracle, (oracle, n_oracle)
    assert rows_only == len(reg) - n_oracle, (rows_only, len(reg) - n_oracle)


def test_plans_close_lines_carry_no_registry_counts(  # VERDICT r7 #8
):
    """PLANS.md round-close notes must NOT hardcode registry/oracle/test
    counts — they went stale in r7 when late commits postdated the close
    note.  The single test-enforced source is COVERAGE.md's Totals line."""
    text = open("PLANS.md").read()
    stale = re.findall(
        r"\d+\s+queries\s*/\s*\d+\s+oracles|\d+\s+tests green"
        # r8 nit shape: "267/267 oracle rows" went one-commit stale —
        # any N/N-oracle-row spelling is likewise banned from close notes
        r"|\d+\s*/\s*\d+\s+oracle",
        text,
    )
    assert not stale, f"hardcoded counts in PLANS.md: {stale}"


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)


def test_approx_companion_mapping_complete():
    """Every rows-only approximate (oracle=None) must name a hash-verified
    oracle companion in APPROX_COMPANION, and every companion must exist
    with a full oracle — a broken mapping leaves an approximate's rows-only
    evidence with no exact check behind it."""
    from tensorbase_spark.queries import APPROX_COMPANION, registry

    reg = registry()
    rows_only = {n for n, q in reg.items() if q.oracle is None}
    assert rows_only == set(APPROX_COMPANION), (
        sorted(rows_only ^ set(APPROX_COMPANION))
    )
    for approx, comp in APPROX_COMPANION.items():
        assert comp in reg, f"companion {comp} not in registry"
        assert reg[comp].oracle is not None, (
            f"companion {comp} must itself be hash-verified"
        )
