"""Tests of the span self times and the event-log digest.

The canned log under data/ is a Spark 4.1 local-mode event log of two
job groups, trimmed to the events the digest reads. Three edits were
made by hand: one task of stage 3 spills 4096 bytes, the last task of
stage 5 fails, and stage 9 belongs to no job group.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import Span, Tracer, digest_event_log, event_log_files  # noqa: E402


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    tr.spans = [
        Span("t", 0, None, "run", 0, 0.0, 10.0),
        Span("t", 1, 0, "a", 0, 1.0, 3.0),
        Span("t", 2, 0, "b", 0, 2.0, 5.0),
        Span("t", 3, 0, "c", 0, 6.0, 7.0),
        Span("t", 4, 3, "c.inner", 0, 6.5, 7.0),
    ]
    st = tr.self_times()
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(0.5)


def test_digest_of_canned_log():
    files = event_log_files(os.path.join(HERE, "data"))
    assert [os.path.basename(f) for f in files] == ["events_1_local-1792206287344"]
    d = digest_event_log(files)
    assert set(d) == {"grpA#0", "grpB#0"}

    a = d["grpA#0"]
    assert a["tasks"] == 5 and a["tasks_failed"] == 0
    assert a["shuffle_write_bytes"] == 397 + 409 + 405 + 405
    assert a["shuffle_read_bytes"] == 1616
    assert a["spill_bytes"] == 0
    assert a["max_task_s"] == pytest.approx(0.621)
    assert a["median_task_s"] == pytest.approx(0.605)
    # heaviest stage is stage 0: max 0.621 s over median 0.6055 s
    assert a["task_skew"] == pytest.approx(0.621 / 0.6055)
    assert a["wait_s"] == pytest.approx(0.195 + 0.215 + 0.217 + 0.218 + 0.017)

    b = d["grpB#0"]
    assert b["tasks"] == 9 and b["tasks_failed"] == 1
    assert b["shuffle_write_bytes"] == 4 * 212 + 4 * 59
    assert b["shuffle_read_bytes"] == 4 * 212 + 236
    assert b["spill_bytes"] == 4096
