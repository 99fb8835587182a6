"""Tests for the benchmark's own helpers.

Run from the repository root:  python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest

from corpus import Corpus, dense_queries, serve_queries, sparse_queries
from layers import ranked_by_qid, share
from spans import (
    Span,
    StatusStore,
    Tracer,
    classify_route,
    percentile,
    self_times,
    tail_percentile,
)


# --- percentile rule -----------------------------------------------------------


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(200, 95) == 95
    assert tail_percentile(100, 95) == 90
    assert tail_percentile(20, 95) == 50
    assert tail_percentile(10, 95) == 0
    for n in (11, 37, 100, 250):
        values = list(range(1, n + 1))
        p = tail_percentile(n, 99)
        beyond = sum(v > percentile(values, p) for v in values)
        assert beyond >= 10


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert percentile([5.0], 90) == 5.0


# --- spans -------------------------------------------------------------------------


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        Span("parent", 0.0, 10.0, parent=None, sid=0),
        Span("a", 1.0, 4.0, parent=0, sid=1),
        Span("b", 3.0, 6.0, parent=0, sid=2),  # overlaps a
        Span("c", 8.0, 12.0, parent=0, sid=3),  # runs past the parent
        Span("a", 1.5, 2.0, parent=1, sid=4),  # grandchild: only a's business
    ]
    st = self_times(spans)
    assert st["parent"] == pytest.approx(10 - (5 + 2))
    assert st["a"] == pytest.approx((3 - 0.5) + 0.5)
    assert st["b"] == pytest.approx(3)
    assert st["c"] == pytest.approx(4)


def test_tracer_records_parents_and_requests():
    tr = Tracer(enabled=True)
    with tr.span("serve"):
        with tr.span("query", request=7):
            with tr.span("decode"):
                pass
    names = [(s.name, s.parent, s.request) for s in tr.spans]
    assert names == [("serve", None, None), ("query", 0, 7), ("decode", 1, 7)]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer(enabled=False)
    with off.span("serve"):
        pass
    assert off.spans == []


# --- corpus and oracle ----------------------------------------------------------


def test_corpus_is_a_function_of_the_seed():
    a, b, c = Corpus(3, 6000, 3000), Corpus(3, 6000, 3000), Corpus(4, 6000, 3000)
    assert a.texts() == b.texts()
    assert a.texts() != c.texts()
    assert serve_queries(a) == serve_queries(b)
    assert sparse_queries(a, 8) == sparse_queries(b, 8)
    assert dense_queries(a, 8) == dense_queries(b, 8)
    shape = a.shape(a.texts())
    assert shape["postings"] == len(a.post_doc) and shape["vocabulary"] <= 3000


def test_sparse_bands_must_be_populated():
    with pytest.raises(ValueError, match="sparse df band"):
        sparse_queries(Corpus(3, 2000, 500), 8)


def test_scattered_layout_keeps_lengths_but_not_their_order():
    a = Corpus(3, 3200, 500, "clustered")
    b = Corpus(3, 3200, 500, "scattered")
    run = 3200 // 16
    assert all(a.dl[i] <= a.dl[i + 1] + 7 for i in range(run - 1))
    assert sum(b.dl[i] > b.dl[i + 1] + 7 for i in range(run - 1)) > run // 10


def test_shares_split_each_list_once():
    for m in (0, 1, 3, 12, 100):
        for n in (1, 3, 4):
            items = list(range(m))
            shares = [share(items, i, n) for i in range(n)]
            assert sum(shares, []) == items
            assert max(map(len, shares)) - min(map(len, shares)) <= 1


def test_ranked_by_qid_rejects_broken_ranks():
    pdf = pd.DataFrame(
        {
            "qid": [2, 1, 1, 2],
            "doc_id": [9, 4, 5, 8],
            "score": [1.0, 2.0, 1.0, 3.0],
            "rank": [3, 1, 2, 1],
        }
    )
    got = ranked_by_qid(pdf)
    assert list(got[1][0]) == [4, 5]
    assert list(got[2][0]) == [-1]  # ranks 1, 3: not 1..n


# --- Spark: status-store deltas and route classifier ---------------------------


@pytest.fixture(scope="module")
def spark():
    from splade_spark.session import get_spark

    s = get_spark(app="perfbench-tests", cores=2, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_status_store_deltas_are_per_phase(spark):
    store = StatusStore(spark)
    before = store.stage_keys()
    df = spark.range(0, 20000, numPartitions=4)
    df.groupBy((df.id % 7).alias("g")).count().collect()
    phase = store.since(before)
    assert len(phase) >= 2
    assert sum(s.shuffle_write_bytes for s in phase) > 0
    assert all(len(s.task_ms) == s.num_tasks for s in phase)
    assert not {(s.stage_id, s.attempt) for s in phase} & before
    quiet = store.stage_keys()
    assert store.since(quiet) == []
    j0 = store.last_job_id()
    spark.range(10).count()
    assert store.last_job_id() > j0


def test_classify_route_strings():
    assert classify_route("... MapInArrow ... MapInArrow ...") == "doc-major"
    assert classify_route("+- MapInPandas <lambda>(...)") == "term-major"
    assert classify_route("LocalTableScan") == "none"


def test_route_classifier_on_a_tiny_index(spark):
    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import search_fused

    c = Corpus(1, 300, 100)
    work = tempfile.mkdtemp(prefix="perfbench-route-")
    try:
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(c.n_docs), "text": c.texts()})
        )
        idx = os.path.join(work, "index")
        build_index(docs, idx)
        qs = dense_queries(c, 4)
        routes = {}
        for strategy in ("term", "doc"):
            df = search_fused(spark, idx, qs, k=10, strategy=strategy)
            plan = df._jdf.queryExecution().executedPlan().toString()
            routes[strategy] = classify_route(plan)
        assert routes == {"term": "term-major", "doc": "doc-major"}
    finally:
        shutil.rmtree(work, ignore_errors=True)
