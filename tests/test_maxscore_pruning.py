"""MaxScore/Block-Max pruning must actually FIRE on a skewed corpus.

The round-1 bench corpus replicated docs, equalizing block maxima, so
blocks_kept/blocks_total stayed ~1.0 and the pruning path was only
lossless-tested, never shown effective. This fixture builds the skew
pruning exploits: document length grows with doc_id, the rare query
term appears only in the shortest docs, so the common term's
high-doc_id blocks have low block maxima and prune against the
champion floor.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from splade_spark.operators.index_build import build_index
from splade_spark.operators.index_query import search
from splade_spark.operators.maxscore import search_maxscore

N_DOCS = 20_000
N_RARE = 40


def _skewed_docs(spark):
    # doc i: ["rare"] (i < N_RARE) + "common" (half the docs, so its
    # idf is ~ln2, not ~0) + "pad" * (3 + i // 8) for dl skew. The
    # rare docs are the SHORTEST, so their common-term impacts are the
    # highest — the champion floor theta exceeds ub_rare and the
    # common term's long-doc (low block-max) blocks prune away.
    return spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") < N_RARE, F.lit("rare ")).otherwise(F.lit("")),
            F.when(
                (F.col("id") < N_RARE) | (F.col("id") % 2 == 0), F.lit("common")
            ).otherwise(F.lit("filler")),
            F.repeat(F.lit(" pad"), (F.lit(3) + (F.col("id") / 8).cast("int"))),
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def skewed_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("skewed_idx"))
    build_index(_skewed_docs(spark), idx, n_segments=2)
    return idx


def test_pruning_fires_and_stays_lossless(spark, skewed_index):
    queries = spark.createDataFrame([(1, "rare common")], "qid long, text string")
    counts: dict = {}
    pruned = search_maxscore(
        spark, skewed_index, queries, k=10, debug_counts=counts
    ).collect()
    assert counts["blocks_total"] > 50, counts
    kept_frac = counts["blocks_kept"] / counts["blocks_total"]
    assert kept_frac < 0.5, counts

    exhaustive = search(spark, skewed_index, queries, k=10).collect()
    assert [(r.qid, r.doc_id, r.rank) for r in sorted(pruned, key=lambda r: r.rank)] == [
        (r.qid, r.doc_id, r.rank) for r in sorted(exhaustive, key=lambda r: r.rank)
    ]
    # scores exact, not just ranks
    assert {(r.doc_id, r.score) for r in pruned} == {
        (r.doc_id, r.score) for r in exhaustive
    }


def test_fused_maxscore_matches_and_prunes(spark, skewed_index):
    from splade_spark.operators.maxscore import search_maxscore_fused

    queries = spark.createDataFrame([(1, "rare common")], "qid long, text string")
    exhaustive = search(spark, skewed_index, queries, k=10).collect()
    # driver fast path (default) AND the distributed pruned-scan branch
    # (forced with driver_block_limit=0) must both match exactly
    for limit in (256, 0):
        counts: dict = {}
        fused = search_maxscore_fused(
            spark,
            skewed_index,
            [(1, "rare common")],
            k=10,
            debug_counts=counts,
            driver_block_limit=limit,
        ).collect()
        assert counts["blocks_kept"] / counts["blocks_total"] < 0.5, counts
        assert {(r.doc_id, r.score, r.rank) for r in fused} == {
            (r.doc_id, r.score, r.rank) for r in exhaustive
        }, limit


def _scattered_docs(spark):
    """Like _skewed_docs (dl grows with doc_id, so common-term block
    maxima still skew and pruning can fire), but the RARE docs' dl is
    a permutation of id order (dl = 3 + 7*id mod 40): the champion's
    top-k candidates sorted by partial are NOT ascending in doc_id —
    the regression shape for the fused candidate binary search (cand
    must be doc_id-sorted, not champion-partial-ordered)."""
    return spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") < N_RARE, F.lit("rare ")).otherwise(F.lit("")),
            F.when(
                (F.col("id") < N_RARE) | (F.col("id") % 2 == 0), F.lit("common")
            ).otherwise(F.lit("filler")),
            F.repeat(
                F.lit(" pad"),
                F.when(
                    F.col("id") < N_RARE,
                    F.lit(3) + F.pmod(F.col("id") * 7, F.lit(40)).cast("int"),
                ).otherwise(F.lit(3) + (F.col("id") / 8).cast("int")),
            ),
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def scattered_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("scattered_idx"))
    build_index(_scattered_docs(spark), idx, n_segments=2)
    return idx


def test_fused_prunes_with_nonmonotone_champion_order(spark, scattered_index):
    """Champion partials do not decrease with doc_id here, so an
    unsorted candidate array would silently break the searchsorted
    exact-scoring pass (under-accumulated candidate scores -> loose
    theta -> ~no pruning). Assert pruning still FIRES and is exact."""
    from splade_spark.operators.maxscore import search_maxscore_fused

    queries = [(1, "rare common")]
    counts: dict = {}
    fused = search_maxscore_fused(
        spark, scattered_index, queries, k=10, debug_counts=counts
    ).collect()
    assert counts["blocks_total"] > 50, counts
    assert counts["blocks_kept"] / counts["blocks_total"] < 0.5, counts

    qdf = spark.createDataFrame(queries, "qid long, text string")
    exhaustive = search(spark, scattered_index, qdf, k=10).collect()
    assert {(r.doc_id, r.score, r.rank) for r in fused} == {
        (r.doc_id, r.score, r.rank) for r in exhaustive
    }


def test_fused_guard_falls_back_before_postings_metadata(
    spark, skewed_index, monkeypatch
):
    """The df-based scale guard must route to search_fused BEFORE any
    pyarrow access to the postings dataset: with champion_block_limit=0
    every hit term over-limits, and a postings-path dataset() open
    would mean driver-side metadata materialization at what could be
    10^12-doc scale."""
    import pyarrow.dataset as pads

    from splade_spark.operators import maxscore

    real_dataset = pads.dataset
    opened: list[str] = []

    def spy(path, *a, **kw):
        if isinstance(path, str):
            opened.append(path)
            if path.rstrip("/").endswith("postings"):
                raise AssertionError(
                    "postings dataset opened despite over-limit guard"
                )
        return real_dataset(path, *a, **kw)

    monkeypatch.setattr(pads, "dataset", spy)
    queries = [(1, "rare common")]
    counts: dict = {}
    got = maxscore.search_maxscore_fused(
        spark, skewed_index, queries, k=10, champion_block_limit=0,
        debug_counts=counts,
    ).collect()
    # a fallback records nothing: an empty dict is how callers count
    # guard fallbacks
    assert counts == {}
    # fell back through the exhaustive fused path and still answered
    qdf = spark.createDataFrame(queries, "qid long, text string")
    exhaustive = search(spark, skewed_index, qdf, k=10).collect()
    assert {(r.doc_id, r.score, r.rank) for r in got} == {
        (r.doc_id, r.score, r.rank) for r in exhaustive
    }
    assert any(p.rstrip("/").endswith("term_dict") for p in opened)


def test_single_term_query_prunes_own_blocks(spark, skewed_index):
    """A single-term query can only prune its own posting list: theta
    is the k-th exact score of the term's best docs, and the blocks
    whose block_max falls below it are skipped."""
    from splade_spark.operators.maxscore import search_maxscore_fused

    single = [(2, "common")]
    counts: dict = {}
    got = search_maxscore_fused(
        spark, skewed_index, single, k=10, debug_counts=counts
    ).collect()
    qdf = spark.createDataFrame(single, "qid long, text string")
    want = search(spark, skewed_index, qdf, k=10).collect()
    assert {(r.doc_id, r.score, r.rank) for r in got} == {
        (r.doc_id, r.score, r.rank) for r in want
    }
    # the common term's low-dl docs concentrate its high impacts in few
    # blocks; the rest prune against the floor
    assert counts["blocks_kept"] / counts["blocks_total"] < 0.5, counts


def test_uniform_candidates_knife_edge_lossless(spark, tmp_path_factory):
    """Identically-scored top candidates put theta EXACTLY at the best
    block UB: theta (per-doc sum of decoded impacts) and total_ub (sum
    of dictionary maxima) add the same floats in different orders, so
    a strict `block_ub >= theta` can land ULPs short and retain ZERO
    blocks — returning an empty top-k (caught live by the prune
    bench's ramp fixture at 6M docs: retained=0). PRUNE_EPS slack must
    keep this lossless on both MaxScore paths."""
    from splade_spark.operators.maxscore import search_maxscore_fused

    idx = str(tmp_path_factory.mktemp("knife_idx"))
    n_terms = 5
    cand = " ".join(f"t{j}" for j in range(n_terms))
    docs = spark.range(4_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            # 64 byte-identical candidate docs (same tf, same dl ->
            # identical scores), then filler docs with varying dl
            F.when(F.col("id") < 64, F.lit((cand + " ") * 4)).otherwise(
                F.concat(
                    F.lit(cand + " "),
                    F.repeat(F.lit("pad "), (F.col("id") / 40).cast("int") + 1),
                )
            ),
        ).alias("text"),
    )
    build_index(docs, idx, n_segments=2)
    queries = spark.createDataFrame([(1, cand)], "qid long, text string")
    want = {
        (r.doc_id, r.score, r.rank)
        for r in search(spark, idx, queries, k=10).collect()
    }
    assert len(want) >= 10
    got_rel = search_maxscore(spark, idx, queries, k=10).collect()
    assert {(r.doc_id, r.score, r.rank) for r in got_rel} == want
    got_fused = search_maxscore_fused(
        spark, idx, [(1, cand)], k=10
    ).collect()
    assert {(r.doc_id, r.score, r.rank) for r in got_fused} == want


def test_prune_eps_covers_summation_order():
    """The mechanism behind the knife edge, deterministically: theta
    sums a doc's decoded impacts in aggregation order, total_ub sums
    the same values in dictionary order — float addition is not
    associative, so theta can exceed every block UB by ULPs on a
    corpus whose top-k candidates all tie. The retain inequality must
    absorb at least that divergence (PRUNE_EPS >> ULP), and PRUNE_EPS
    must also cover the 6dp score-rounding tie window (a doc 1e-6
    below theta can round into a tie and win the doc_id tiebreak)."""
    from splade_spark.operators.maxscore import PRUNE_EPS

    impacts = [0.1, 0.2, 0.3]          # classic non-associative triple
    theta = impacts[0] + impacts[1] + impacts[2]      # 0.6000000000000001
    total_ub = impacts[2] + impacts[1] + impacts[0]   # 0.6
    best_block_ub = total_ub  # candidate's own block: block_max == ub term
    assert theta > best_block_ub  # strict >= would retain NOTHING
    assert best_block_ub >= theta - PRUNE_EPS
    assert PRUNE_EPS >= 1e-6  # rounding-tie window at 6dp
