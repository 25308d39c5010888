"""Self-time and interval arithmetic of the tracer (no Spark needed):

    python3 -m pytest perfbench -q
"""

import threading

from tracing import Span, union_length
from workloads import _top_dur


def _span(name, start, end, parent=None, thread=None):
    sp = Span(name, "layer", "call", parent, "t")
    sp.start, sp.end = start, end
    if thread is not None:
        sp.thread = thread
    if parent is not None:
        parent.children.append(sp)
    return sp


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_same_thread_children_once():
    root = _span("root", 0.0, 10.0)
    _span("a", 1.0, 4.0, root)
    _span("b", 3.0, 5.0, root)  # overlaps a: covered 1..5
    assert root.self_time() == 6.0


def test_self_time_ignores_other_thread_children():
    root = _span("commit", 0.0, 10.0)
    _span("write", 1.0, 9.0, root, thread=threading.get_ident() + 1)
    assert root.self_time() == 10.0


def test_top_dur_counts_nested_same_set_once():
    root = _span("op", 0.0, 10.0)
    outer = _span("anti_join_via_bloom", 1.0, 5.0, root)
    _span("maybe_seen_keys", 2.0, 3.0, outer)
    alone = _span("maybe_seen_keys", 6.0, 7.0, root)
    spans = [root, outer, outer.children[0], alone]
    assert _top_dur(spans, {"anti_join_via_bloom", "maybe_seen_keys"}) == 5.0
