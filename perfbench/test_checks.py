"""Unit tests of the benchmark's answer checks (no Spark needed).

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

SEED = 5
SC = fixtures.SCALES["smoke"]


def ingest_phase(workload: str = "serving") -> run.IngestPhase:
    bench = SimpleNamespace(args=SimpleNamespace(seed=SEED, workload=workload), sc=SC)
    return run.IngestPhase(bench, writer=None, reader=None)


def read_op(months, t0, t1, count, total) -> run.Op:
    op = run.Op("ingest_range", "native", "", months)
    op.t0, op.t1 = t0, t1
    op.result = [(count, total)]
    return op


def log_block(phase: run.IngestPhase, n: int, start: float, ack: float | None) -> W.BlockFacts:
    _cols, facts = W.ingest_columns(SEED, SC, n)
    phase.blocks.append([start, ack, facts])
    return facts


def test_block_facts_add_up_to_the_block():
    b = fixtures.ingest_block(SEED, SC, 3)
    _cols, facts = W.ingest_columns(SEED, SC, 3)
    assert facts.rows == len(b["ts"])
    assert sum(facts.sums) == int(b["value"].sum())
    assert facts.in_range((1, W.INGEST_MONTHS + 1)) == (facts.rows, sum(facts.sums))
    assert 1 <= facts.partitions <= W.INGEST_MONTHS


def test_read_with_no_insert_in_flight_must_be_exact():
    phase = ingest_phase()
    block = log_block(phase, 0, start=1.0, ack=2.0)
    months = (2, 5)
    c, s = (a + b for a, b in zip(phase.base.in_range(months), block.in_range(months)))
    assert phase.check_read(read_op(months, 3.0, 4.0, c, s))
    # a read that drops a month, or loses a few rows, is wrong
    c2, s2 = (a + b for a, b in zip(phase.base.in_range((2, 4)), block.in_range((2, 4))))
    assert not phase.check_read(read_op(months, 3.0, 4.0, c2, s2))
    assert not phase.check_read(read_op(months, 3.0, 4.0, c - 1, s))
    assert not phase.check_read(read_op(months, 3.0, 4.0, c, s + 1))


def test_read_beside_an_insert_lies_between_the_bounds():
    phase = ingest_phase()
    done = log_block(phase, 0, start=1.0, ack=2.0)
    flying = log_block(phase, 1, start=2.5, ack=5.0)
    months = (1, 7)
    lo = [a + b for a, b in zip(phase.base.in_range(months), done.in_range(months))]
    hi = [a + b for a, b in zip(lo, flying.in_range(months))]
    assert phase.check_read(read_op(months, 3.0, 4.0, *lo))
    assert phase.check_read(read_op(months, 3.0, 4.0, *hi))
    assert not phase.check_read(read_op(months, 3.0, 4.0, lo[0] - 1, lo[1]))
    assert not phase.check_read(read_op(months, 3.0, 4.0, hi[0] + 1, hi[1]))
    # a block begun after the read ended may not be seen
    assert not phase.check_read(read_op(months, 1.5, 2.2, *hi))


def test_pipeline_ops_ingest_table_starts_empty():
    phase = ingest_phase("pipeline_ops")
    assert phase.base.rows == 0
    assert phase.check_read(read_op((1, 7), 0.0, 1.0, 0, None))


def test_export_digest_matches_decoded_rows():
    wide = fixtures.wide(SEED, SC)
    first, n = 17, SC.export_rows[0]
    part = wide.slice(first, n).to_pydict()
    rows = list(zip(*(part[c] for c in W.WIDE_COLUMNS.split(", "))))
    assert W.rows_digest(rows) == W.export_expected(wide, first, n)
    assert W.rows_digest(rows[1:]) != W.export_expected(wide, first, n)
