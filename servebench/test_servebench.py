"""Tests of the benchmark itself: python -m pytest servebench -q"""

from __future__ import annotations

import itertools
import os

import pytest

from servebench import corpus
from servebench.probes import StatusReader, Tracer, parse_metric, span_self, union_length
from servebench.reference import Snapshot, highest_percentile, percentile


def _take(ops, n: int) -> list[dict]:
    return list(itertools.islice(ops, n))


def test_same_seed_same_inputs():
    assert corpus.corpus(7, 300) == corpus.corpus(7, 300)
    assert corpus.corpus(7, 300) != corpus.corpus(8, 300)
    assert len({r["text"] for r in corpus.corpus(7, 300)}) == 300
    for gen in (corpus.read_blocks, corpus.read_tails, corpus.write_cycles):
        assert _take(gen(7), 6) == _take(gen(7), 6)
        assert _take(gen(7), 6) != _take(gen(8), 6)


def test_search_blocks_cover_every_cell_once():
    for block in _take(corpus.read_blocks(3), 5):
        assert sum(o["kind"] == "meta" for o in block) == 1
        block = [o for o in block if o["kind"] == "search"]
        cells = sorted((len(o["query"].split()), o["limit"]) for o in block)
        assert cells == sorted(corpus.SEARCH_CELLS)
        assert sorted((len(o["query"].split()), o["limit"]) for o in block
                      if o["filter"] is not None) == sorted(corpus.FILTERED_CELLS)


def test_percentile_rule():
    # the highest percentile with at least ten samples beyond it
    assert highest_percentile(19) is None
    assert highest_percentile(20) == 50.0
    assert highest_percentile(99) == 50.0
    assert highest_percentile(100) == 90.0
    assert highest_percentile(999) == 90.0
    assert highest_percentile(1000) == 99.0
    assert highest_percentile(10_000) == 99.9
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 90.0) == 90.0
    assert percentile(xs, 50.0) == 50.0


def test_metric_parsing_and_span_arithmetic():
    assert parse_metric("742 ms") == 742.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n5.3 s (1.3 s, 1.3 s, "
                        "1.3 s (stage 0.0: task 3))") == pytest.approx(5300.0)
    assert parse_metric("8.0 KiB") == 8192.0
    assert parse_metric("12") == 12.0
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 5.5) == pytest.approx(3.5)
    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
             {"id": 2, "parent": 0, "start": 3.0, "end": 5.0}]
    assert span_self(spans) == pytest.approx({0: 6.0, 1: 3.0, 2: 2.0})


def test_tracer_spans_nest_and_restore():
    import threading

    class Layer:
        def inner(self):
            return 1

        def outer(self):
            t = threading.Thread(target=self.inner)  # like an async batch job
            t.start()
            t.join()
            return self.inner() + 1

    orig = Layer.__dict__["outer"]
    tracer = Tracer()
    tracer.patch(Layer, "inner", "layer.inner")
    tracer.patch(Layer, "outer", "layer.outer")
    assert Layer().outer() == 2 and tracer.spans == []  # no op set: nothing recorded
    tracer.op = 7
    with tracer.span("op.x"):
        assert Layer().outer() == 2
    tracer.op = None
    by = {s["name"]: [x for x in tracer.spans if x["name"] == s["name"]] for s in tracer.spans}
    (root,), (outer,) = by["op.x"], by["layer.outer"]
    assert root["parent"] is None and outer["parent"] == root["id"]
    # the span opened on the other thread hangs off the op's root span
    assert sorted(s["parent"] for s in by["layer.inner"]) == sorted([root["id"], outer["id"]])
    assert {s["op"] for s in tracer.spans} == {7}
    tracer.restore()
    assert Layer.__dict__["outer"] is orig


@pytest.fixture(scope="module")
def spark():
    from vector_search_service_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    yield get_spark("servebench-tests", cpus=2,
                    extra_conf={"spark.ui.showConsoleProgress": "false"})


def test_reference_agrees_with_fts_search(spark):
    from vector_search_service_spark.operators.search import fts_search

    texts = ["Spark scan scan, JOIN!", "the spark", "join join join spark scan",
             "nothing here", "SCAN spark", "spark-scan spark"]
    rows = [(f"d{i}", t, {"source": f"s{i % 2}"}) for i, t in enumerate(texts)]
    snap = Snapshot(rows)
    df = spark.createDataFrame(rows, "document_id string, content string, "
                                     "doc_metadata map<string,string>")
    for query, limit in (("spark", 10), ("scan spark", 2), ("the join", 10),
                         ("the", 10), ("absent", 10), ("Spark SCAN scan", 100)):
        got = [(r["document_id"], r["rank"]) for r in fts_search(
            df, query, limit=limit, text_col="content", id_col="document_id").collect()]
        assert got == snap.search(query, limit), query
    assert snap.search("spark", 10, {"source": "s0"}) == [
        (i, s) for i, s in snap.search("spark", 10) if int(i[1:]) % 2 == 0]


def test_status_reader_job_count_matches_tracker(spark):
    import time

    sc = spark.sparkContext
    reader = StatusReader(spark)
    sc.setJobGroup("servebench-test", "one job, two tasks")
    w0 = time.time()
    assert sc.parallelize(range(10), 2).count() == 10
    w1 = time.time()
    sc.setJobGroup("", "")
    got = reader.read(["servebench-test"], w0, w1)
    assert got["jobs"] == len(sc.statusTracker().getJobIdsForGroup("servebench-test")) == 1
    assert got["tasks"] == 2
    assert 0 < got["job_ms"] <= (w1 - w0) * 1e3
