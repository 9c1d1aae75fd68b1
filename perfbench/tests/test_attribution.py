"""The traced run's attribution check fails an operation whose time is
not attributed to named layers, or whose spans do not nest."""

import run
from spans import Span, Tracer
from workloads import Op


def _trace(spans):
    tracer = Tracer()
    tracer.spans = [Span(*s) for s in spans]
    return tracer


def _check(spans, latency):
    op = Op("q", latency, [], root=0)
    share = run.check_attribution(op, _trace(spans).self_times(0))
    return share, op.problems


def test_attributed_operation_passes():
    share, problems = _check([("op", 0.0, 1.0, None),
                              ("plans.build", 0.0, 0.4, 0),
                              ("plans.exec", 0.4, 0.99, 0)], 1.0)
    assert problems == []
    assert abs(share - 0.01) < 1e-9


def test_time_outside_named_layers_fails():
    _, problems = _check([("op", 0.0, 1.0, None),
                          ("pipeline.run", 0.0, 1.0, 0),
                          ("sinks.staging.write", 0.1, 0.5, 1)], 1.0)
    assert any("outside every named layer" in p for p in problems)


def test_latency_missed_by_the_root_span_counts_as_unattributed():
    _, problems = _check([("op", 0.0, 0.5, None),
                          ("plans.exec", 0.0, 0.5, 0)], 1.0)
    assert problems


def test_negative_self_time_fails():
    # a child that outlasts its parent: the spans do not nest
    _, problems = _check([("op", 0.0, 1.0, None),
                          ("sinks.sqs.send_bodies", 0.0, 0.3, 0),
                          ("sinks.envelope.pack", 0.0, 0.9, 1),
                          ("plans.exec", 0.3, 1.0, 0)], 1.0)
    assert any("sinks.sqs.send_bodies has self time" in p
               for p in problems)
