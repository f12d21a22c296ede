"""Span bookkeeping and interval arithmetic of the tracer.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def test_union_len_merges_overlaps_and_clips():
    assert tracing._union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing._union_len([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert tracing._union_len([], 0, 1) == 0


def test_self_time_is_duration_minus_children():
    tr = tracing.Tracer()
    with tr.span("op.a") as root:
        with tr.span("layer.x"):
            pass
        with tr.span("layer.y"):
            with tr.span("layer.z"):
                pass
    # rewrite the clocks to known values
    times = {"op.a": (0, 10), "layer.x": (1, 3), "layer.y": (4, 8), "layer.z": (5, 6)}
    for s in tr.spans:
        s.t0, s.t1 = times[s.name]
    assert [s.name for s in tr.spans if s.parent is None] == ["op.a"]
    assert tr.self_time(root) == 10 - 2 - 4
    assert tr.self_time(tr.spans[2]) == 4 - 1
    assert sum(tr.self_time(s) for s in tr.spans) == root.dur


def test_size_delta_counts_new_grown_and_removed_files():
    before = {"a": 10, "b": 5, "c": 7}
    after = {"a": 10, "b": 9, "d": 3}
    assert tracing.size_delta(before, after) == {"files_added": 1, "bytes_added": 4 + 3, "bytes_removed": 7}


def test_wrapped_function_records_failure_and_restores():
    class Owner:
        @staticmethod
        def boom():
            raise ValueError("x")

    tr = tracing.Tracer()
    patches = tracing.Patches()
    orig = Owner.boom
    patches.wrap(Owner, "boom", tr, "layer.boom")
    try:
        Owner.boom()
    except ValueError:
        pass
    patches.restore()
    assert Owner.boom is orig
    assert [(s.name, s.failed) for s in tr.spans] == [("layer.boom", True)]
