"""Span arithmetic and job attribution of the traced mode."""

import threading

import pytest

import spans
from spans import Job, Span, Stage


def test_merge_and_length_of_overlapping_intervals():
    assert spans.merge([(3, 7), (2, 6), (4, 5), (9, 10)]) == [(2, 7), (9, 10)]
    assert spans.length([(3, 7), (2, 6), (4, 5), (9, 10)]) == 6
    assert spans.overlap([(0, 4), (6, 10)], [(3, 7), (3, 5)]) == 2


def test_self_time_and_overlap_subtract_the_union_of_concurrent_children():
    # a pipeline span with three sink spans running at once in a pool
    parent = Span(1, "plans.ram_pipeline", None, 0.0, 10.0)
    sinks = [
        Span(2, "sinks", 1, 2.0, 6.0),
        Span(3, "sinks", 1, 3.0, 7.0),
        Span(4, "sinks", 1, 4.0, 5.0),
    ]
    m = spans.layer_metrics([parent, *sinks], [], cores=4)
    # union of children is [2, 7]; their sum (9) would leave 1 s
    assert m["plans.ram_pipeline.self_s"] == pytest.approx(5.0)
    assert m["plans.ram_pipeline.wall_s"] == pytest.approx(10.0)
    assert m["sinks.wall_s"] == pytest.approx(5.0)
    assert m["sinks.self_s"] == pytest.approx(5.0)
    assert m["sinks.overlap"] == pytest.approx(9.0 / 5.0)


def test_jobs_go_to_the_span_named_in_their_description():
    s = Span(7, "operators.dedup", None, 0.0, 10.0)
    mine = [
        Job(1, "a", "perfbench-span:7", 1.0, 3.0,
            [Stage(10, 1, 0.5, 0.25, 1.0, 2.0)]),
        Job(2, "b", "perfbench-span:7", 2.0, 4.0,
            [Stage(11, 8, 4.0, 2.0, 0.0, 0.0)]),
    ]
    foreign = [Job(3, "c", None, 5.0, 6.0), Job(4, "d", "other", 5.0, 6.0)]
    m = spans.layer_metrics([s], mine + foreign, cores=4)
    assert m["operators.dedup.jobs"] == 2
    assert m["operators.dedup.stages"] == 2
    assert m["operators.dedup.single_task_stages"] == 1
    assert m["operators.dedup.tasks"] == 9
    assert m["operators.dedup.exec_run_s"] == pytest.approx(4.5)
    assert m["operators.dedup.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["operators.dedup.slot_busy"] == pytest.approx(4.5 / 40)
    # jobs cover [1, 4]: the rest of the 10 s span is driver time
    assert m["operators.dedup.driver_gap_s"] == pytest.approx(7.0)
    assert m["unattributed.jobs"] == 2
    assert m["operators.routing.jobs"] == 0


class FakeContext:
    """Per-thread local properties, as PySpark's pinned threads give them."""

    def __init__(self):
        self.local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self.local, key, None)

    def setLocalProperty(self, key, value):
        setattr(self.local, key, value)


def test_worker_thread_span_is_a_child_of_the_main_thread_span():
    sc = FakeContext()
    tracer = spans.Tracer(sc)
    inner = []

    def sink():
        with tracer.span("sinks"):
            inner.append(sc.getLocalProperty(spans.DESC_KEY))

    with tracer.span("plans.ram_pipeline"):
        with tracer.span("plans.ram_pipeline"):  # a layer calling itself
            t = threading.Thread(target=sink)
            t.start()
            t.join(timeout=10)
        assert not t.is_alive()
        outer_desc = sc.getLocalProperty(spans.DESC_KEY)
    pipeline, child = tracer.take()
    assert (pipeline.layer, child.layer) == ("plans.ram_pipeline", "sinks")
    assert child.parent == pipeline.sid
    assert inner == [f"{spans.DESC_PREFIX}{child.sid}"]
    assert outer_desc == f"{spans.DESC_PREFIX}{pipeline.sid}"
    assert sc.getLocalProperty(spans.DESC_KEY) is None


def test_install_rebinds_every_caller_and_restores():
    from ram_datapipeline_spark import plans
    from ram_datapipeline_spark.operators import dedup, graph
    from ram_datapipeline_spark.sources import osm
    from ram_datapipeline_spark.streaming.oplog import OperationLog
    from ram_datapipeline_spark.suite import graph_queries

    originals = (plans.run_ram_pipeline, graph_queries.label_propagation,
                 dedup.connected_components, OperationLog.start, osm.read_osm_ways)
    tracer = spans.Tracer(FakeContext())
    restore = tracer.install()
    try:
        assert plans.run_ram_pipeline is not originals[0]
        assert plans.run_ram_pipeline.__wrapped__ is originals[0]
        assert graph_queries.label_propagation is graph.label_propagation
        assert graph_queries.label_propagation.__wrapped__ is originals[1]
        assert dedup.connected_components.__wrapped__ is originals[2]
        assert OperationLog.start.__wrapped__ is originals[3]
        assert osm.read_osm_ways.__wrapped__ is originals[4]
    finally:
        restore()
    assert (plans.run_ram_pipeline, graph_queries.label_propagation,
            dedup.connected_components, OperationLog.start,
            osm.read_osm_ways) == originals
