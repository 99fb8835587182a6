"""Lossless Block-Max / MaxScore pruning for the compressed index.

The reference delegates this to the external PISA engine (binary
format produced at pisa_inference/index2pisa.py:59-74; PISA runs
Block-Max WAND / MaxScore on it, pisa_inference/README.md). Here the
pruning passes run driver-side on metadata-scale pyarrow reads and
the cluster runs at most ONE pruned scan — no Catalyst extension.

Two-pass rule (SURVEY.md §4), per query:

Pass 1 (floor): for each query pick the champion term (highest
  ub_t = q_tf * max_impact_t); decode only its highest-block_max
  blocks covering >= k postings (O(k) floor work). The top-k
  decoded docs by single-term partial become floor CANDIDATES; their exact
  total scores are computed by decoding only the blocks whose
  [first_doc_id, last_doc_id] range contains a candidate. With >= k
  candidates exactly scored, theta_q = their k-th largest exact
  score is a valid lower bound of the true k-th score.

Pass 2 (prune + exact): a block b of term t upper-bounds every
  member doc's total score by
     UB(b) = total_ub_q - ub_t + q_tf_t * block_max_b.
  If UB(b) < theta_q the block can contain no top-k doc, and every
  doc with true score >= theta_q keeps ALL its blocks, so surviving
  scores are exact and the top-k is identical to exhaustive scoring
  (proof sketch in docstring of test_maxscore.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from splade_spark import SCORE_THRESHOLD, TOPK_DEFAULT
from splade_spark.operators.index_query import (
    block_pairs_expr,
    decode_blocks_vectorized,
    in_literals,
    plan_queries,
    require_impacts,
    score_term_major,
    search,
    search_fused_planned,
)

# query relations at or under this row count collect their texts and
# run search_maxscore_fused (texts collect to ~MBs; the fused
# planner's per-query work is trivial at this size and its df guard
# bounds the driver-side metadata); larger relations run the
# exhaustive DataFrame plan, which never collects queries
FUSED_DELEGATE_LIMIT = 4096

# slack on the block-retain inequality `block_ub >= theta - PRUNE_EPS`.
# Final scores are rounded to 6dp and ties break by doc_id, so a doc
# whose TRUE score is within ~1e-6 of theta can round into a tie with
# the k-th candidate and win the tiebreak — it must keep its blocks.
# The same slack absorbs float-summation order: theta (sum of decoded
# impacts per doc) and total_ub (sum of dictionary maxima) add the
# same values in different orders, so on a corpus of identically
# scored candidates theta can land ULPs ABOVE every block UB and a
# strict >= would retain NOTHING (caught by the prune bench's
# uniform-candidate fixture: retained=0 at 6M docs). Retaining more
# is always lossless; 1.5x the rounding step covers the half-ulp
# round-to-even boundary. BMP's certificate carries the same slop
# (operators/bmp.py).
PRUNE_EPS = 1.5e-6


def search_maxscore_fused(
    spark: SparkSession,
    index_dir: str,
    query_rows: list[tuple[int, str]],
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    debug_counts: dict | None = None,
    champion_block_limit: int = 50_000,
    driver_block_limit: int = 256,
    as_local: bool = False,
) -> DataFrame:
    """Minimal-plan Block-Max/MaxScore search for driver-resident
    queries: the pruning passes run DRIVER-SIDE on metadata-scale data
    (pyarrow scans of the query terms' dictionary rows, block metadata
    and the champion/candidate block bytes), so the distributed part
    is ONE pruned scan -> score kernel -> agg -> top-k — the same
    two-stage shape as ``search_fused``, minus the pruned blocks'
    decode work — the low-latency path for the reference's own
    driver-resident query shape (evaluate.py:80-86).

    Lossless: the module's floor/prune rules — a block
    survives iff total_ub_q - ub_t + q_tf*block_max >= theta, theta =
    k-th exact candidate score (candidates = top-k by champion
    partial), so every doc with true score >= theta keeps all its
    blocks. Scoring a superset of one query's retained blocks (the
    union across queries) stays lossless: fully-retained docs score
    exactly, others partially UNDER their true (< theta) score.

    If ANY hit term's estimated block count (from the term_dict
    ``df`` — read in the same metadata-scale dictionary scan that
    resolves term_ids) exceeds ``champion_block_limit``, the
    driver-side passes would stop being metadata-scale — fall back
    to exhaustive ``search_fused`` BEFORE touching the postings
    dataset, so a stopword-ish term at 10^12 docs (~df/block_size
    metadata rows) can never materialize on the driver. The same
    guard caps the summed estimate across hit terms at 20x the
    per-term limit.

    When pruning leaves at most ``driver_block_limit`` blocks, the
    retained set is scored entirely on the driver (numpy over the
    already-open pyarrow dataset) and returned as a local relation —
    zero cluster jobs, the analog of PISA answering a query from one
    node once Block-Max has shrunk the work below cluster scale.
    Results are bit-identical to the distributed path (same kernel
    arithmetic, same 6dp rounding, same tie rule).

    ``as_local=True`` returns a pandas DataFrame instead of a Spark
    one: when the driver fast path answers, the rows ALREADY live on
    the driver and the createDataFrame -> collect round trip is the
    dominant serving cost (~0.3 s of py4j/Arrow transfer for a k-row
    result — measured p50 0.42 s with it, ~0.05 s without). Paths
    that do run cluster jobs just toPandas() the result, so the value
    is identical either way.
    """
    import numpy as np
    import pandas as pd
    import pyarrow.dataset as pads

    from splade_spark.functions.codec import BLOCK_SIZE
    from splade_spark.operators.index_build import DEFAULT_SALT_UNIT

    _OUT_COLS = ["qid", "doc_id", "score", "rank"]

    def _ret_rows(rows):
        """Local tuples -> requested relation type."""
        if as_local:
            df = pd.DataFrame(rows, columns=_OUT_COLS)
            return df.astype(
                {"qid": "int64", "doc_id": "int64", "score": "float64", "rank": "int32"}
            )
        return spark.createDataFrame(
            rows, "qid long, doc_id long, score double, rank int"
        )

    def _ret_df(df):
        """Spark relation -> requested relation type."""
        return df.toPandas() if as_local else df

    plan = plan_queries(index_dir, query_rows)
    require_impacts(plan.stats)
    # scale guard BEFORE any postings access: estimate each hit term's
    # block count from its df (upper bound: full blocks + one partial
    # block per salt group). A term over the limit — or a query set
    # whose total estimate exceeds the summed cap — would make the
    # metadata scan below driver-scale-unsafe, so bail to the
    # exhaustive fused plan while still only having read the
    # dictionary rows.
    block_size = int(plan.stats.get("block_size", BLOCK_SIZE))
    salt_unit = int(plan.stats.get("salt_unit", DEFAULT_SALT_UNIT))
    blocks_est = [
        df // block_size + df // salt_unit + 2 for df in plan.df.values()
    ]
    # summed cap: 20x the per-term limit = ~1M block-metadata rows,
    # ~40 MB as Arrow — still metadata-scale on any driver. (The
    # per-term cap is the skew guard: one stopword at 10^12 docs is
    # ~10^8 blocks and must never materialize. The old 4x summed cap
    # was so conservative that an ordinary 11-term query over a 6M-doc
    # corpus fell back to exhaustive scoring while its true retained
    # set was 11 blocks.)
    if blocks_est and (
        max(blocks_est) > champion_block_limit
        or sum(blocks_est) > 20 * champion_block_limit
    ):
        return _ret_df(search_fused_planned(spark, plan, k, threshold))
    if not plan.terms:
        return _ret_rows([])
    # per query: [(term_id, q_tf, ub)] sorted by term_id
    q_plan = {
        qid: [(t, w, w * plan.max_impact[t]) for t, w in pairs]
        for qid, pairs in plan.terms.items()
    }

    post_ds = pads.dataset(
        os.path.join(index_dir, "postings"), partitioning="hive"
    )
    # bucket is the hive partition field: filtering on it prunes whole
    # partition directories before any footer/row-group work — the
    # driver-side twin of the Spark plans' in_literals("bucket", ...)
    # pushdown (a q-term query touches <= q of the n_buckets dirs)
    bucket_flt = pads.field("bucket").isin(plan.buckets)
    meta = post_ds.to_table(
        columns=["term_id", "block_id", "first_doc_id", "last_doc_id", "n", "block_max"],
        filter=bucket_flt & pads.field("term_id").isin(plan.hit_terms),
    ).to_pandas()
    by_term = dict(iter(meta.groupby("term_id")))

    def fetch_decode(pairs: set[tuple[int, int]]):
        """Decode the given (term_id, block_id) blocks driver-side."""
        if not pairs:
            return {}
        tids = sorted({t for t, _ in pairs})
        bids = sorted({b for _, b in pairs})
        tbl = post_ds.to_table(
            columns=["term_id", "block_id", "first_doc_id", "n", "doc_gap_bytes", "impact_bytes"],
            filter=bucket_flt
            & pads.field("term_id").isin(tids)
            & pads.field("block_id").isin(bids),
        ).to_pandas()
        tbl = tbl[
            [
                (t, b) in pairs
                for t, b in zip(tbl["term_id"], tbl["block_id"])
            ]
        ]
        out: dict[int, list] = {}
        if len(tbl) == 0:
            return out
        ns = tbl["n"].to_numpy(dtype=np.int64)
        doc_ids, impacts = decode_blocks_vectorized(
            tbl["first_doc_id"].to_numpy(dtype=np.int64),
            ns,
            list(tbl["doc_gap_bytes"]),
            list(tbl["impact_bytes"]),
            plan.gap_codec,
        )
        tid_rep = np.repeat(tbl["term_id"].to_numpy(dtype=np.int64), ns)
        for t in {int(x) for x in tbl["term_id"]}:
            m = tid_rep == t
            out[t] = (doc_ids[m], impacts[m])
        return out

    # ---- pass 1 driver-side: champion floor -> theta per query ------
    champ_pairs: set[tuple[int, int]] = set()
    for qid, rows in q_plan.items():
        champ = max(rows, key=lambda r: (r[2], -r[0]))
        cm = by_term.get(champ[0])
        if cm is None:
            continue
        # decode only the highest-block_max champion blocks covering
        # >= k postings — O(k) floor work instead of O(champion df);
        # candidates drawn from a subset still yield a valid (at most
        # slightly looser) exact floor, since every candidate's exact
        # score is a true score
        order_b = np.lexsort(
            (cm["block_id"].to_numpy(), -cm["block_max"].to_numpy())
        )
        n_cum = np.cumsum(cm["n"].to_numpy()[order_b])
        nb = min(int(np.searchsorted(n_cum, k, side="left")) + 1, len(order_b))
        champ_pairs.update(
            (champ[0], int(b))
            for b in cm["block_id"].to_numpy()[order_b[:nb]]
        )
    champ_dec = fetch_decode(champ_pairs)

    theta: dict[int, float] = {}
    cover_pairs: set[tuple[int, int]] = set()
    cand_of: dict[int, np.ndarray] = {}
    for qid, rows in q_plan.items():
        champ = max(rows, key=lambda r: (r[2], -r[0]))
        dec = champ_dec.get(champ[0])
        if dec is None:
            continue
        d, w = dec
        part = w * champ[1]
        order = np.lexsort((d, -part))[:k]
        # ASCENDING doc ids: the exact-scoring pass binary-searches this
        # array (np.searchsorted below), which silently mis-positions on
        # champion-partial order; the covered-range check is
        # order-insensitive, so sorting is safe
        cand = np.sort(d[order])
        q_cover: set[tuple[int, int]] = set()
        # exact-floor cover budget: when candidates are spread across
        # ~every block (uniform corpora), the cover set degenerates to
        # the whole hit-term block set and the driver would decode the
        # index to seed theta. Past the budget, fall back to the k-th
        # champion PARTIAL as theta — a valid (weaker) floor that is
        # already decoded, exactly the regime where the exact floor
        # wouldn't have pruned anything anyway.
        cover_budget = 64 * (k // block_size + 1) * max(1, len(rows))
        for tid, _, _ in rows:
            tm = by_term.get(tid)
            if tm is None:
                continue
            fd = tm["first_doc_id"].to_numpy()
            ld = tm["last_doc_id"].to_numpy()
            # block [fd_i, ld_i] holds a candidate iff some cand falls
            # inside: searchsorted interval test, O(n_blocks log k) and
            # memory-free — the earlier (n_blocks x k) boolean matrix
            # was a ~50 MB transient per term at the guard ceiling
            # (50k blocks x k=1000)
            lo = np.searchsorted(cand, fd, side="left")
            hi = np.searchsorted(cand, ld, side="right")
            for b in tm["block_id"].to_numpy()[lo < hi]:
                q_cover.add((tid, int(b)))
            if len(q_cover) > cover_budget:
                break
        if len(q_cover) > cover_budget:
            if len(part) >= k:
                theta[qid] = float(np.sort(part)[-k])
            continue
        cand_of[qid] = cand
        cover_pairs.update(q_cover)
    cover_dec = fetch_decode(cover_pairs)
    for qid, rows in q_plan.items():
        cand = cand_of.get(qid)
        if cand is None:
            continue
        scores = np.zeros(len(cand), dtype=np.float64)
        for tid, q_tf, _ in rows:
            dec = cover_dec.get(tid)
            if dec is None:
                continue
            d, w = dec
            pos = np.searchsorted(cand, d)
            pos = np.clip(pos, 0, len(cand) - 1)
            hit = cand[pos] == d
            np.add.at(scores, pos[hit], q_tf * w[hit])
        if len(scores) >= k:
            theta[qid] = float(np.sort(scores)[-k])

    # ---- pass 2 driver-side: retained block set ---------------------
    retained: dict[int, set[int]] = {}
    total_blocks = 0
    for qid, rows in q_plan.items():
        total_ub = sum(r[2] for r in rows)
        th = theta.get(qid, threshold) - PRUNE_EPS
        for tid, q_tf, ub in rows:
            tm = by_term.get(tid)
            if tm is None:
                continue
            total_blocks += len(tm)
            block_ub = total_ub - ub + q_tf * tm["block_max"].to_numpy()
            keep = tm["block_id"].to_numpy()[block_ub >= th]
            retained.setdefault(tid, set()).update(int(b) for b in keep)
    if debug_counts is not None:
        debug_counts["blocks_total"] = total_blocks
        debug_counts["blocks_kept"] = sum(len(v) for v in retained.values())
        # the (term_id, block_id) sets each pass fetched, by term — what
        # a row-group byte accountant replays against parquet footers
        debug_counts["champion_pairs"] = _by_term(champ_pairs)
        debug_counts["cover_pairs"] = _by_term(cover_pairs)
        debug_counts["retained_pairs"] = {
            t: sorted(bs) for t, bs in sorted(retained.items())
        }

    # ---- driver fast path: tiny retained set, zero cluster jobs -----
    n_retained = sum(len(v) for v in retained.values())
    if 0 < n_retained <= driver_block_limit:
        ret_pairs = {(t, b) for t, bs in retained.items() for b in bs}
        ret_dec = fetch_decode(ret_pairs)
        out_rows = []
        for qid, rows in q_plan.items():
            ds, ws = [], []
            for tid, q_tf, _ in rows:
                dec = ret_dec.get(tid)
                if dec is not None:
                    ds.append(dec[0])
                    ws.append(q_tf * dec[1])
            if not ds:
                continue
            d = np.concatenate(ds)
            w = np.concatenate(ws)
            uniq, inv = np.unique(d, return_inverse=True)
            totals = np.round(np.bincount(inv, weights=w), 6)
            keep = totals > threshold
            scored_q = sorted(
                zip(uniq[keep].tolist(), totals[keep].tolist()),
                key=lambda p: (-p[1], p[0]),
            )[:k]
            out_rows += [
                (qid, doc, s, r + 1) for r, (doc, s) in enumerate(scored_q)
            ]
        return _ret_rows(out_rows)

    # ---- distributed: ONE pruned scan -> kernel -> agg -> top-k -----
    if not retained:
        return _ret_rows([])
    n_distinct_blocks = sum(len(tm) for tm in by_term.values())
    if n_retained >= n_distinct_blocks:
        # theta fallback retained everything — a per-term IN-list the
        # size of the whole block set buys nothing and bloats the
        # filter expression; the term semi-restriction is equivalent
        keep_expr = in_literals("term_id", retained)
    else:
        keep_expr = block_pairs_expr(retained)
    return _ret_df(score_term_major(spark, plan, keep_expr, k, threshold))


def _by_term(pairs: set[tuple[int, int]]) -> dict[int, list[int]]:
    """(term_id, block_id) pairs -> {term_id: sorted block_ids}."""
    out: dict[int, list[int]] = {}
    for t, b in sorted(pairs):
        out.setdefault(t, []).append(b)
    return out


def search_maxscore(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    debug_counts: dict | None = None,
) -> DataFrame:
    """Block-Max/MaxScore for a query RELATION: a size router over two
    lossless paths, so rows never depend on the branch taken.

    A relation of at most ``FUSED_DELEGATE_LIMIT`` rows collects its
    (qid, text) and runs ``search_maxscore_fused`` — pruning passes on
    the driver, at most one pruned cluster scan (``debug_counts`` is
    filled as there). A larger relation runs exhaustive ``search``,
    the DataFrame plan that never collects the queries."""
    head = queries.select("qid", "text").limit(FUSED_DELEGATE_LIMIT + 1).collect()
    if len(head) <= FUSED_DELEGATE_LIMIT:
        return search_maxscore_fused(
            spark,
            index_dir,
            [(int(r.qid), r.text) for r in head],
            k=k,
            threshold=threshold,
            debug_counts=debug_counts,
        )
    return search(spark, index_dir, queries, k=k, threshold=threshold)
