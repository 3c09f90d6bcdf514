"""The reference job's output check."""

from __future__ import annotations

import pyarrow as pa
import pytest

from perfbench import reference


def _table(counts: dict) -> pa.Table:
    return pa.table({"k": list(counts), "count": list(counts.values())})


def test_check_accepts_the_exact_group_counts():
    want = {k: len(range(k, reference.ROWS, reference.GROUPS))
            for k in range(reference.GROUPS)}
    assert sum(want.values()) == reference.ROWS
    assert reference.check(_table(want)) is None


def test_check_rejects_a_wrong_or_missing_group():
    want = {k: len(range(k, reference.ROWS, reference.GROUPS))
            for k in range(reference.GROUPS)}
    assert reference.check(_table({**want, 0: want[0] - 1})) is not None
    del want[5]
    assert reference.check(_table(want)) is not None


def test_each_iteration_is_set_against_its_own_reference_jobs():
    from perfbench.workloads import Recorder

    rec = Recorder(None)
    # the second iteration runs on a host half as fast
    for scale in (1.0, 2.0):
        mark = rec.mark()
        rec.samples["batch"] += [("w1", 1.0 * scale), ("w2", 4.0 * scale)]
        rec.samples["query"] += [("r", 3.0 * scale)]
        rec.samples["ref"] += [("ref", x * scale) for x in (0.5, 0.4, 0.6)]
        rec.close_iteration(mark)
    assert rec.over_ref["batch"] == pytest.approx([4.0, 4.0])  # sqrt(1*4)/0.5
    assert rec.over_ref["query"] == pytest.approx([6.0, 6.0])
