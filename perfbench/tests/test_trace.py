"""Span nesting and per-layer self time."""

import threading

from perfbench.trace import Span, Tracer


def test_self_time_subtracts_child_spans():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span("queries.query", 0.0, 1.0, None, "q#0"),
        Span("queries.build", 0.0, 0.25, 0, "q#0"),
        Span("sinks.lake_merge", 0.5, 0.75, 0, "q#0"),
    ]
    assert tr.self_time_ms() == {"queries": 750.0, "sinks": 250.0}


def test_spans_nest_per_thread():
    tr = Tracer(enabled=True)
    with tr.span("pipelines.setup", "main"):
        t = threading.Thread(target=lambda: tr.span("sinks.es_write", "b0").__enter__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        with tr.span("sources.append", "main"):
            pass
    parents = {s.name: s.parent for s in tr.spans}
    assert parents == {"pipelines.setup": None, "sinks.es_write": None, "sources.append": 0}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("queries.query", "q#0"):
        pass
    assert tr.spans == [] and tr.self_time_ms() == {}
