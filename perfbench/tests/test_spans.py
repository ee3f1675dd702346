import threading

import pytest

from perfbench import spans
from perfbench.spans import Span


def test_self_time_with_overlapping_children():
    # children overlap each other (one ran in a callback thread) and one
    # outlives its parent; only their union inside the parent is covered
    s = [
        Span(0, "p", "operators", 0.0, 10.0, None, "e"),
        Span(1, "c1", "functions", 1.0, 4.0, 0, "e"),
        Span(2, "c2", "functions", 3.0, 6.0, 0, "e"),
        Span(3, "c3", "functions", 8.0, 12.0, 0, "e"),
        Span(4, "g", "sources", 2.0, 3.0, 1, "e"),
    ]
    self_s = spans.self_times(s)
    assert self_s[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert self_s[1] == pytest.approx(3.0 - 1.0)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[4] == pytest.approx(1.0)


def test_tracer_nests_per_thread():
    t = spans.Tracer()
    t.entry = "e"
    with t.span("outer", "plans") as outer:
        with t.span("inner", "operators") as inner:
            seen = {}

            def other():
                with t.span("cb", "streaming") as cb:
                    seen["parent"] = cb.parent

            th = threading.Thread(target=other)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
    assert inner.parent == outer.span_id
    assert outer.parent is None
    assert seen["parent"] is None
    assert all(s.end is not None and s.entry == "e" for s in t.spans)


def test_innermost_span():
    s = [
        Span(0, "a", "plans", 0.0, 10.0, None, "e"),
        Span(1, "b", "operators", 2.0, 5.0, 0, "e"),
        Span(2, "c", "operators", 2.0, 5.0, None, "other"),
    ]
    assert spans.innermost_span(s, 3.0, "e").name == "b"
    assert spans.innermost_span(s, 6.0, "e").name == "a"
    assert spans.innermost_span(s, 11.0, "e") is None


class _Col:
    def contains(self, s):
        return ("contains", s)


def test_layers_wrapped_rebinds_and_restores():
    from hebrew_tutor_data_pipeline_spark.functions import hebrew
    from hebrew_tutor_data_pipeline_spark.plans import catalog
    from hebrew_tutor_data_pipeline_spark.sources import readers

    original_load, original_probe = readers.load_table, hebrew.has_replacement_char
    udf = hebrew.nfc_normalize
    t = spans.Tracer()
    with spans.layers_wrapped(t) as n_wrapped:
        assert n_wrapped > 10
        # a name a plans module imported points at the wrapper
        assert catalog.load_table is readers.load_table is not original_load
        assert hebrew.nfc_normalize is udf  # pandas UDFs run on workers: not wrapped
        t.entry = "e"
        assert hebrew.has_replacement_char(_Col()) == ("contains", "�")
    assert readers.load_table is original_load and catalog.load_table is original_load
    assert hebrew.has_replacement_char is original_probe
    assert [(s.name, s.layer, s.entry) for s in t.spans] == [
        ("functions.hebrew.has_replacement_char", "functions", "e")
    ]
