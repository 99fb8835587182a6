"""Query execution against the materialized compressed index.

Reference lifecycle (task/evaluator.py:186-243): load HDF5 index into
dicts, per query traverse posting lists with the numba kernel, top-k.
Spark plan here:

1. query terms -> term_ids via broadcast join with term_dict
   (vocabulary filter, queries2pisa.py:34-49, falls out of the join);
2. postings scan pruned two ways: a literal ``bucket IN (...)``
   filter (parquet partition-directory pruning — the Iceberg
   bucket() analog; content-addressed md5(term) buckets) +
   broadcast semi-join on term_id;
3. Arrow-batched block decode (mapInPandas) producing the partial
   products q_tf * impact — the decode stays columnar numpy;
4. hash-aggregate sum per (qid, doc_id), threshold filter, window
   top-k with the pinned (-score, doc_id) tie rule.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_spark import SCORE_THRESHOLD, TOPK_DEFAULT
from splade_spark.functions.codec import vbyte_decode
from splade_spark.operators.retrieval import query_terms, topk_window


def load_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        return json.load(f)


def require_impacts(stats: dict) -> None:
    """Float-scoring paths need the float64 impact payload; a
    quantized-only index (store_impacts=False) serves search_quantized
    only — fail loudly instead of scoring empty byte columns."""
    if not stats.get("store_impacts", True):
        raise ValueError(
            "index was built quantized-only (store_impacts=False); "
            "float-impact search is unavailable — use search_quantized"
        )


def buckets_for_terms(terms: list[str], n_buckets: int) -> list[int]:
    """Partition-prune literals from raw query tokens — pure Python
    (bucket is content-addressed: pmod(md5(term), n_buckets)), so a
    single-query search issues NO Spark action before its main job."""
    from splade_spark.functions.hashing import py_md5_int

    return sorted({py_md5_int(t) % n_buckets for t in terms})


def buckets_for_queries(queries: DataFrame, n_buckets: int) -> list[int]:
    """Bucket literals when query texts are not driver-resident: one
    cheap action over the (tiny) query relation — no postings scan,
    no term_dict join."""
    from splade_spark.functions.hashing import md5_int
    from splade_spark.functions.tokenize import tokens_col

    rows = (
        queries.select(F.explode(tokens_col("text")).alias("term"))
        .select(F.pmod(md5_int(F.col("term")), F.lit(n_buckets)).alias("b"))
        .distinct()
        .collect()
    )
    return sorted(int(r.b) for r in rows)


def in_literals(col: str, vals) -> "F.Column":
    """`col IN (...)` as ONE parsed SQL expression.

    ``Column.isin(vals)`` makes a py4j round trip PER literal
    (_create_column_from_literal) — measured 2.4s of serial driver
    time for a 4096-term batch, over half the whole batch wall at
    local[32] and a flat Amdahl floor at any cluster size. One
    F.expr string is one round trip + a JVM-side parse (ms), and
    compiles to the identical In predicate (same parquet pushdown).
    Int-only by construction (term_id / block_id / bucket literals)."""
    vs = sorted({int(v) for v in vals})
    if not vs:
        return F.lit(False)
    return F.expr(f"{col} IN ({','.join(map(str, vs))})")


def block_pairs_expr(by_term: dict) -> "F.Column":
    """OR-of-(term_id = t AND block_id IN bs) disjunction as ONE
    parsed SQL expression (see in_literals — a 20k-pair retained set
    via Column ops is tens of thousands of py4j round trips)."""
    parts = [
        f"(term_id = {int(t)} AND block_id IN "
        f"({','.join(str(int(b)) for b in sorted(bs))}))"
        for t, bs in sorted(by_term.items())
        if len(bs)
    ]
    if not parts:
        return F.lit(False)
    return F.expr(" OR ".join(parts))


def load_term_dict(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "term_dict"))


def load_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "postings"))


@dataclass
class QueryPlan:
    """The driver-side front end shared by the driver-resident search
    paths (``search_fused``, ``search_maxscore_fused``,
    ``search_bmp``): computed once per call from the query texts and
    ONE metadata-scale dictionary read, before any postings access."""

    index_dir: str
    stats: dict
    gap_codec: str
    # qid -> (term_id, tf) sorted by term_id; OOV terms and queries
    # left with no in-vocabulary term are dropped
    terms: dict[int, list[tuple[int, float]]]
    df: dict[int, int]  # term_id -> document frequency
    max_impact: dict[int, float]  # term_id -> max block_max
    hit_terms: list[int]
    buckets: list[int]  # bucket partition-prune literals

    def q_arrs(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """Per-query (term_ids int32, q_tf float64) kernel inputs."""
        return {
            qid: (
                np.array([t for t, _ in pairs], dtype=np.int32),
                np.array([w for _, w in pairs], dtype=np.float64),
            )
            for qid, pairs in self.terms.items()
        }


def plan_queries(index_dir: str, query_rows: list[tuple[int, str]]) -> QueryPlan:
    """Tokenize driver-resident queries and resolve their terms with
    one pyarrow read of the term dictionary (term_id, df, max_impact
    for the query terms only — pushed ``term IN`` filter)."""
    from collections import Counter

    import pyarrow.dataset as pads

    from splade_spark.functions.tokenize import py_tokenize

    stats = load_stats(index_dir)
    qtf = {qid: Counter(py_tokenize(text)) for qid, text in query_rows}
    all_terms = sorted({t for c in qtf.values() for t in c})
    tbl = pads.dataset(os.path.join(index_dir, "term_dict")).to_table(
        columns=["term", "term_id", "df", "max_impact"],
        filter=pads.field("term").isin(all_terms),
    )
    words = tbl.column("term").to_pylist()
    tids = tbl.column("term_id").to_pylist()
    tid_of = dict(zip(words, tids))
    terms = {}
    for qid, c in qtf.items():
        pairs = sorted((tid_of[t], float(w)) for t, w in c.items() if t in tid_of)
        if pairs:
            terms[qid] = pairs
    return QueryPlan(
        index_dir=index_dir,
        stats=stats,
        gap_codec=stats.get("gap_codec", "vbyte"),
        terms=terms,
        df=dict(zip(tids, tbl.column("df").to_pylist())),
        max_impact=dict(zip(tids, map(float, tbl.column("max_impact").to_pylist()))),
        hit_terms=sorted(tids),
        buckets=buckets_for_terms(words, stats["n_buckets"]),
    )


def decode_gaps_many(
    ns: np.ndarray, gap_bytes: list, gap_codec: str = "vbyte"
) -> np.ndarray:
    """Decode many blocks' gap sequences into one array. VByte values
    never cross block boundaries, so the concatenated byte stream
    decodes as ONE sequence; bit-packed blocks carry a per-block width
    header, so they decode per block."""
    if len(ns) == 0:
        return np.zeros(0, dtype=np.uint64)
    if gap_codec == "vbyte":
        return vbyte_decode(b"".join(gap_bytes), int(ns.sum()))
    from splade_spark.functions.codec import GAP_CODECS

    dec = GAP_CODECS[gap_codec][1]
    return np.concatenate(
        [dec(g, int(n)) for g, n in zip(gap_bytes, ns)]
    )


def decode_doc_ids_vectorized(
    first_ids: np.ndarray, ns: np.ndarray, gap_bytes: list, gap_codec: str = "vbyte"
) -> np.ndarray:
    """Gap-decode MANY blocks' doc ids in one vectorized pass; ids
    come from a segmented cumsum of the gaps."""
    gaps = decode_gaps_many(ns, gap_bytes, gap_codec).astype(np.int64)
    ends = np.cumsum(ns)
    starts = ends - ns
    g = np.cumsum(gaps)
    seg_base = np.repeat(g[starts] - gaps[starts], ns)
    return np.repeat(first_ids, ns) + (g - seg_base)


def decode_blocks_vectorized(
    first_ids: np.ndarray,
    ns: np.ndarray,
    gap_bytes: list,
    impact_bytes: list,
    gap_codec: str = "vbyte",
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, float64 impacts) across many blocks at once."""
    doc_ids = decode_doc_ids_vectorized(first_ids, ns, gap_bytes, gap_codec)
    impacts = np.frombuffer(b"".join(impact_bytes), dtype=np.float64)
    return doc_ids, impacts


DECODED_SCHEMA = "term_id int, block_id long, doc_id long, impact double"
_BLOCK_COLS = ["term_id", "block_id", "first_doc_id", "n", "doc_gap_bytes", "impact_bytes"]


def _make_decode_postings(gap_codec: str):
    """Arrow-batch block decode -> (term_id, block_id, doc_id, impact).

    Each block is decoded ONCE regardless of how many queries touch
    its term; the query fan-out happens afterwards as a JVM-side
    broadcast join (codegen), not in Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            doc_ids, impacts = decode_blocks_vectorized(
                pdf["first_doc_id"].to_numpy(dtype=np.int64),
                ns,
                list(pdf["doc_gap_bytes"]),
                list(pdf["impact_bytes"]),
                gap_codec,
            )
            yield pd.DataFrame(
                {
                    "term_id": np.repeat(pdf["term_id"].to_numpy(dtype=np.int32), ns),
                    "block_id": np.repeat(pdf["block_id"].to_numpy(dtype=np.int64), ns),
                    "doc_id": doc_ids,
                    "impact": impacts,
                }
            )

    return run


def decode_blocks_df(blocks: DataFrame, gap_codec: str = "vbyte") -> DataFrame:
    return blocks.select(*_BLOCK_COLS).mapInPandas(
        _make_decode_postings(gap_codec), schema=DECODED_SCHEMA
    )


_BLOCK_COLS_Q = ["term_id", "first_doc_id", "n", "doc_gap_bytes", "quant_bytes"]


def _make_decode_postings_quant(gap_codec: str):
    """Arrow-batch decode of the uint8 quantized impacts (the PISA
    interchange payload, index2pisa.py:42-48) -> (term_id, doc_id, d_w)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            doc_ids = decode_doc_ids_vectorized(
                pdf["first_doc_id"].to_numpy(dtype=np.int64),
                ns,
                list(pdf["doc_gap_bytes"]),
                gap_codec,
            )
            d_w = np.frombuffer(b"".join(pdf["quant_bytes"]), dtype=np.uint8).astype(
                np.int32
            )
            yield pd.DataFrame(
                {
                    "term_id": np.repeat(pdf["term_id"].to_numpy(dtype=np.int32), ns),
                    "doc_id": doc_ids,
                    "d_w": d_w,
                }
            )

    return run


def decode_blocks_quant_df(blocks: DataFrame, gap_codec: str = "vbyte") -> DataFrame:
    return blocks.select(*_BLOCK_COLS_Q).mapInPandas(
        _make_decode_postings_quant(gap_codec),
        schema="term_id int, doc_id long, d_w int",
    )


def search_quantized(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
) -> DataFrame:
    """(qid, doc_id, score long, rank): PISA-parity quantized search —
    integer ``sum(q_w * d_w)`` over the index's stored uint8
    quant_bytes (codec.quantize rint convention) and x50-clipped query
    weights (inference_q_SPLADE.py:13,60). Same doubly-pruned scan
    shape as ``search``; the decode kernel reads quant_bytes instead
    of float64 impact_bytes (4x fewer bytes per posting)."""
    from splade_spark.operators.retrieval import quantized_query_terms

    term_dict = load_term_dict(spark, index_dir)
    qtq = (
        quantized_query_terms(queries)
        .join(term_dict.select("term", "term_id"), "term")
        .select("qid", "term_id", "q_w")
    )
    postings = load_postings(spark, index_dir)
    stats = load_stats(index_dir)
    n_buckets = stats["n_buckets"]
    buckets = buckets_for_queries(queries, n_buckets)
    pruned = postings.filter(in_literals("bucket", buckets)).join(
        F.broadcast(qtq.select("term_id").distinct()), "term_id", "left_semi"
    )
    decoded = decode_blocks_quant_df(pruned, stats.get("gap_codec", "vbyte"))
    scored = (
        decoded.join(F.broadcast(qtq), "term_id")
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("q_w") * F.col("d_w")).cast("long").alias("score"))
        .filter(F.col("score") > 0)
    )
    return topk_window(scored, k)


def make_score_kernel(q_arrs: dict, gap_codec: str = "vbyte"):
    """Build the Arrow scoring kernel shared by search_fused and
    search_maxscore_fused: gap-decode a batch of blocks once, then
    fan partial products out PER TERM to only the queries containing
    that term (term -> [(qid, weight)] expansion). The earlier
    formulation scanned the full decoded batch once per query —
    O(n_queries x batch) row-visits; this is O(sum over terms of
    |postings_t| x |queries containing t|), the relational join's
    work, inside one numpy kernel."""
    t2q: dict[int, list[tuple[int, float]]] = {}
    for qid, (tids, ws) in q_arrs.items():
        for t, w in zip(tids.tolist(), ws.tolist()):
            t2q.setdefault(int(t), []).append((qid, float(w)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            doc_ids, impacts = decode_blocks_vectorized(
                pdf["first_doc_id"].to_numpy(dtype=np.int64),
                ns,
                list(pdf["doc_gap_bytes"]),
                list(pdf["impact_bytes"]),
                gap_codec,
            )
            tid_arr = np.repeat(pdf["term_id"].to_numpy(dtype=np.int64), ns)
            order = np.argsort(tid_arr, kind="stable")
            sorted_tids = tid_arr[order]
            uniq_t, starts = np.unique(sorted_tids, return_index=True)
            ends = np.append(starts[1:], len(sorted_tids))
            acc_d: dict[int, list] = {}
            acc_w: dict[int, list] = {}
            for t, s, e in zip(uniq_t.tolist(), starts.tolist(), ends.tolist()):
                hits = t2q.get(int(t))
                if not hits:
                    continue
                seg = order[s:e]
                d_seg = doc_ids[seg]
                w_seg = impacts[seg]
                for qid, qw in hits:
                    acc_d.setdefault(qid, []).append(d_seg)
                    acc_w.setdefault(qid, []).append(qw * w_seg)
            for qid, parts in acc_d.items():
                d = np.concatenate(parts)
                w = np.concatenate(acc_w[qid])
                uniq, inv = np.unique(d, return_inverse=True)
                yield pd.DataFrame(
                    {
                        "qid": np.int64(qid),
                        "doc_id": uniq,
                        "partial": np.bincount(inv, weights=w),
                    }
                )

    return kernel


def score_term_major(
    spark: SparkSession,
    plan: QueryPlan,
    keep_expr: "F.Column",
    k: int,
    threshold: float,
) -> DataFrame:
    """Term-major scoring of the postings rows ``keep_expr`` selects
    (within the plan's buckets): one Arrow kernel (decode, q_tf
    multiply, per-doc partial bincount — output rows ~= candidate
    docs, not postings) -> one shuffle -> final agg -> top-k."""
    q_arrs = plan.q_arrs()
    pruned = load_postings(spark, plan.index_dir).filter(
        in_literals("bucket", plan.buckets) & keep_expr
    )
    partials = pruned.select(*_BLOCK_COLS).mapInPandas(
        make_score_kernel(q_arrs, plan.gap_codec),
        schema="qid long, doc_id long, partial double",
    )
    scored = (
        partials.groupBy("qid", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
        .filter(F.col("score") > F.lit(threshold))
    )
    if len(q_arrs) == 1:
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return topk_window(top, k)
    return topk_window(scored, k)


# term-major emits O(sum over queries of candidate docs) partial rows
# into the score shuffle — batch size multiplies shuffle volume.
# Doc-major shuffles the decoded postings ONCE (packed blobs) and
# emits only per-partition top-ks, so it wins exactly when the
# term-major row estimate dwarfs doc-major's emission bound of
# n_parts x n_queries x k (the dense-match regime: candidate sets
# far deeper than k).
#
# FACTOR pinned to the measured knee (scripts/docmajor_crossover_
# bench.py, 1M docs x vocab in {50k..200} x batch in {64,512},
# local[32], ratio = candidate_pairs / emit_bound):
#   ratio 0.38 -> term wins both batches (2.46s vs 2.79s at 512)
#   ratio 0.94 -> tie at 64 (1.48/1.53), doc wins 512 (3.57/2.87)
#   ratio 1.88 -> doc wins both (6.06s vs 3.29s at 512)
#   ratio 3.75 -> doc wins 6.4x at 512 (24.0s vs 3.77s)
# i.e. the two plans cross where the two row bounds cross — at
# ratio ~1, exactly the theory's prediction. The earlier 4M-doc
# replicated-corpus point (164M pairs vs 192k bound, ratio ~850:
# doc 6.3s vs term 50s at local[8]) sits deep on the doc side.
DOC_MAJOR_FACTOR = 1
# absolute floor: below ~2M candidate pairs term-major's single
# shuffle is cheap in absolute terms and doc-major's extra exchange
# + per-shard kernel overhead is pure loss regardless of the ratio
DOC_MAJOR_MIN_ROWS = 2_000_000
# Per-task dense-accumulator budget for the doc-major score kernel: a
# live shard holds one float64 row of shard_width entries per distinct
# hit term (bound = hit_terms x shard_width x 8 bytes — the kernel
# processes one shard at a time, so this IS the transient peak). The
# default geometry (n_docs / (4 x parallelism)) grows with corpus
# size; unguarded, a diverse 4096-query batch over a billion-doc shard
# would need multi-GB per task. The guard shrinks shard_width until
# the bound fits the budget (more shards per partition — more bincount
# passes, same shuffle bytes, memory bounded).
DOC_MAJOR_ACC_BUDGET_BYTES = 256 << 20
# below this guarded width the pack kernel fragments every posting
# block across many shards (row multiplication); auto falls back to
# term-major instead (a pinned strategy="doc" still runs, guarded)
DOC_MAJOR_MIN_WIDTH = 1024


def _guarded_shard_geometry(
    n_docs: int, n_parts: int, n_hit_terms: int
) -> tuple[int, int]:
    """(shard_width, n_shards) honoring DOC_MAJOR_ACC_BUDGET_BYTES:
    hit_terms x shard_width x 8 <= budget."""
    n_shards = n_parts * 2
    shard_width = max(1, (n_docs + n_shards - 1) // n_shards)
    cap = max(1, DOC_MAJOR_ACC_BUDGET_BYTES // (8 * max(n_hit_terms, 1)))
    if shard_width > cap:
        shard_width = cap
        n_shards = (n_docs + shard_width - 1) // shard_width
    return shard_width, n_shards


def _docmajor_pack_kernel(shard_width: int, gap_codec: str):
    """Pass 1: decode pruned posting blocks and pack each (doc_shard,
    term) group into ONE binary row — int32 in-shard doc offsets +
    float64 impacts. The doc-range exchange then moves thousands of
    blob rows instead of ~|postings| narrow rows: shuffle BYTES stay
    O(pruned postings) while the per-row JVM (de)serialization cost —
    measured dominant at ~100M rows — collapses with the row count."""
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            tbl = pa.Table.from_batches([b])
            ns = tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
            doc_ids, impacts = decode_blocks_vectorized(
                tbl.column("first_doc_id")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64),
                ns,
                tbl.column("doc_gap_bytes").to_pylist(),
                tbl.column("impact_bytes").to_pylist(),
                gap_codec,
            )
            tid_rep = np.repeat(
                tbl.column("term_id").to_numpy(zero_copy_only=False).astype(np.int64),
                ns,
            )
            shard = doc_ids // shard_width
            offs = (doc_ids - shard * shard_width).astype(np.int32)
            # single combined sort key (shard-major, term-minor) —
            # ~2x faster than a two-key lexsort on ~1M-row batches;
            # sparse 64-bit doc-id spaces can overflow the packed key,
            # so fall back to lexsort when shard ids are that large
            if len(shard) and int(shard.max()) < (1 << 31):
                order = np.argsort(
                    (shard << np.int64(31)) | tid_rep, kind="stable"
                )
            else:
                order = np.lexsort((tid_rep, shard))
            sh_s, t_s = shard[order], tid_rep[order]
            off_s, imp_s = offs[order], impacts[order]
            chg = np.nonzero((np.diff(sh_s) != 0) | (np.diff(t_s) != 0))[0] + 1
            starts = np.concatenate([[0], chg]).astype(np.int64)
            ends = np.concatenate([chg, [len(sh_s)]]).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(sh_s[starts], type=pa.int64()),
                    pa.array(t_s[starts].astype(np.int32), type=pa.int32()),
                    pa.array(
                        [off_s[s:e].tobytes() for s, e in zip(starts, ends)],
                        type=pa.binary(),
                    ),
                    pa.array(
                        [imp_s[s:e].tobytes() for s, e in zip(starts, ends)],
                        type=pa.binary(),
                    ),
                ],
                names=["shard", "term_id", "offs", "vals"],
            )

    return kernel


def _docmajor_score_kernel(q_arrs: dict, k: int, threshold: float, shard_width: int):
    """Pass 2: per-doc-shard scoring. Every query is broadcast
    (closure) to every shard; a shard holds ALL hit-term postings for
    its doc range, so scores are FINAL locally — the reference's dense
    accumulator (task/evaluator.py:161-180), sharded. Each term is
    bincounted ONCE into a width-sized accumulator row; a query's
    scores are the weighted sum of its terms' rows. Emits only the
    shard's per-query top-k candidates: no (qid, doc) pair ever
    enters a shuffle, so batch size never multiplies shuffle volume."""
    import pyarrow as pa

    def kernel(batches):
        bl = [b for b in batches if b.num_rows]
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        sh = tbl.column("shard").to_numpy(zero_copy_only=False)
        tid = tbl.column("term_id").to_numpy(zero_copy_only=False)
        offs = tbl.column("offs").to_pylist()
        vals = tbl.column("vals").to_pylist()
        # the hash exchange can land several doc shards in one
        # partition: process shard-by-shard so only one shard's
        # accumulators are live at a time
        order = np.argsort(sh, kind="stable")
        uniq_sh, s_starts = np.unique(sh[order], return_index=True)
        s_ends = np.append(s_starts[1:], len(order))
        cand_d: dict[int, list] = {}
        cand_s: dict[int, list] = {}
        for shard_v, ss, se in zip(
            uniq_sh.tolist(), s_starts.tolist(), s_ends.tolist()
        ):
            rows = order[ss:se]
            acc_rows: dict[int, np.ndarray] = {}
            for r in rows.tolist():
                o = np.frombuffer(offs[r], dtype=np.int32)
                v = np.frombuffer(vals[r], dtype=np.float64)
                row = np.bincount(o, weights=v, minlength=shard_width)
                t = int(tid[r])
                prev = acc_rows.get(t)
                acc_rows[t] = row if prev is None else prev + row
            base = int(shard_v) * shard_width
            for qid, (tids, ws) in q_arrs.items():
                acc = None
                for t, w in zip(tids.tolist(), ws.tolist()):
                    row = acc_rows.get(int(t))
                    if row is not None:
                        acc = row * float(w) if acc is None else acc + row * float(w)
                if acc is None:
                    continue
                nz = np.nonzero(acc)[0]
                s_cand = np.round(acc[nz], 6)
                keep = s_cand > threshold
                d_cand = (nz[keep] + base).astype(np.int64)
                s_cand = s_cand[keep]
                if len(d_cand) > k:
                    # cheap shard-level pre-cut: keep the k best (plus
                    # ties at the cut) before the partition-level merge
                    cut = np.partition(s_cand, len(s_cand) - k)[len(s_cand) - k]
                    pre = s_cand >= cut
                    d_cand, s_cand = d_cand[pre], s_cand[pre]
                if len(d_cand):
                    cand_d.setdefault(qid, []).append(d_cand)
                    cand_s.setdefault(qid, []).append(s_cand)
        # ONE top-k per query per PARTITION (not per shard): emitted
        # rows are bounded by n_partitions x queries x k, independent
        # of how many doc shards hash into this partition. Global
        # (-score, doc_id) tie rule throughout — anything in the
        # global top-k survives every level of this cut.
        out_q, out_d, out_s = [], [], []
        for qid, parts in cand_d.items():
            d_cand = np.concatenate(parts)
            s_cand = np.concatenate(cand_s[qid])
            if len(d_cand) > k:
                cut = np.partition(s_cand, len(s_cand) - k)[len(s_cand) - k]
                pre = s_cand >= cut
                d_pre, s_pre = d_cand[pre], s_cand[pre]
                top = np.lexsort((d_pre, -s_pre))[:k]
                d_cand, s_cand = d_pre[top], s_pre[top]
            out_q.append(np.full(len(d_cand), qid, dtype=np.int64))
            out_d.append(d_cand)
            out_s.append(s_cand)
        if out_q:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_d), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                names=["qid", "doc_id", "score"],
            )

    return kernel


def _search_fused_docmajor(
    spark: SparkSession,
    plan: QueryPlan,
    k: int,
    threshold: float,
) -> DataFrame:
    """Doc-major batch plan: pruned scan -> Arrow block decode ->
    ONE exchange of the decoded postings hashed on contiguous doc
    ranges -> shard-local dense-accumulator scoring of ALL queries ->
    union of shard top-ks -> final window. Shuffle volume is
    O(pruned postings), independent of how many queries are in the
    batch — the doc-partitioned shard architecture every large search
    deployment uses, expressed as a Spark exchange."""
    pruned = load_postings(spark, plan.index_dir).filter(
        in_literals("bucket", plan.buckets) & in_literals("term_id", plan.hit_terms)
    )
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
    # ~2 doc shards per partition smooths the hash-placement Poisson
    # imbalance (1 shard/partition leaves ~1/e of partitions empty)
    # without multiplying per-shard accumulator + emission overhead;
    # _guarded_shard_geometry then shrinks shard_width if the dense
    # accumulator bound (hit_terms x shard_width x 8 B) would exceed
    # the per-task budget
    shard_width, _n_shards = _guarded_shard_geometry(
        int(plan.stats["n_docs"]), n_parts, len(plan.hit_terms)
    )
    packed = pruned.select(
        "term_id", "first_doc_id", "n", "doc_gap_bytes", "impact_bytes"
    ).mapInArrow(
        _docmajor_pack_kernel(shard_width, plan.gap_codec),
        schema="shard long, term_id int, offs binary, vals binary",
    )
    sharded = packed.repartition(n_parts, "shard")
    shard_top = sharded.mapInArrow(
        _docmajor_score_kernel(plan.q_arrs(), k, threshold, shard_width),
        schema="qid long, doc_id long, score double",
    )
    return topk_window(shard_top, k)


def search_fused(
    spark: SparkSession,
    index_dir: str,
    query_rows: list[tuple[int, str]],
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    strategy: str = "auto",
) -> DataFrame:
    """Minimal-plan search for driver-resident queries (the reference's
    own query-loading shape, evaluate.py:80-86): the numba scoring
    kernel's Spark analog (SURVEY.md §2.9 — gap-decode + score
    accumulate per posting block inside one Arrow kernel).

    Plan: bucket+term_id-pruned postings scan (both predicates are
    literal pushdowns — partition-dir pruning + row-group min/max
    skipping; no semi-join, no term_dict broadcast stage) ->
    ``score_term_major``. Two stages total.

    ``strategy``: "term" pins the plan above; "doc" pins the
    doc-partitioned shard plan (``_search_fused_docmajor``); "auto"
    (default) picks doc-major when the dictionary-estimated candidate
    pairs exceed DOC_MAJOR_FACTOR x pruned postings — the high-match
    batch regime where term-major's score shuffle scales with batch
    size but doc-major's stays O(pruned postings).
    """
    plan = plan_queries(index_dir, query_rows)
    require_impacts(plan.stats)
    return search_fused_planned(spark, plan, k, threshold, strategy)


def search_fused_planned(
    spark: SparkSession,
    plan: QueryPlan,
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    strategy: str = "auto",
) -> DataFrame:
    """``search_fused`` from an already computed ``QueryPlan`` (the
    exhaustive fallback of the pruned driver-resident paths)."""
    if not plan.terms:
        return spark.createDataFrame(
            [], "qid long, doc_id long, score double, rank int"
        )
    # strategy pick from dictionary metadata only (no postings access):
    # term-major's score shuffle carries ~candidate_pairs rows (grows
    # with batch size and match depth); doc-major's output is bounded
    # by n_parts x n_queries x k regardless. Go doc-major when the
    # collapse is worth its extra exchange (see module comment).
    candidate_pairs = sum(
        plan.df[t] for pairs in plan.terms.values() for t, _ in pairs
    )
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
    emit_bound = n_parts * len(plan.terms) * k
    # memory-guarded geometry preview: if honoring the accumulator
    # budget would fragment shards below DOC_MAJOR_MIN_WIDTH docs,
    # auto stays term-major (pack-kernel row multiplication would eat
    # the win); an explicit strategy="doc" still runs, guarded
    guarded_width, _ = _guarded_shard_geometry(
        int(plan.stats["n_docs"]), n_parts, len(plan.hit_terms)
    )
    if strategy == "doc" or (
        strategy == "auto"
        and candidate_pairs > DOC_MAJOR_FACTOR * emit_bound
        and candidate_pairs > DOC_MAJOR_MIN_ROWS
        and guarded_width >= DOC_MAJOR_MIN_WIDTH
    ):
        return _search_fused_docmajor(spark, plan, k, threshold)
    return score_term_major(
        spark, plan, in_literals("term_id", plan.hit_terms), k, threshold
    )


def search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    query_texts: list[str] | None = None,
) -> DataFrame:
    """(qid, doc_id, score, rank) from the compressed index.

    ``query_texts``: pass the raw texts when driver-resident (the
    reference's own query-loading shape, evaluate.py:80-86) and the
    bucket-prune literals are derived in pure Python — the search
    runs as ONE Spark job chain with no preparatory actions."""
    if query_texts is not None:
        # guard the contract query_texts makes: a mismatched list would
        # silently drop bucket-prune literals (missing postings, wrong
        # scores) and could truncate the top-k via the single-query fast
        # path. The count is one job over the tiny query relation.
        n_q = queries.count()
        if n_q != len(query_texts):
            raise ValueError(
                f"query_texts has {len(query_texts)} entries but the "
                f"queries relation has {n_q} rows — pass the texts of "
                "exactly those queries (or None to derive buckets from "
                "the relation)"
            )
    term_dict = load_term_dict(spark, index_dir)
    qt = (
        query_terms(queries)
        .join(term_dict.select("term", "term_id"), "term")
        .select("qid", "term_id", "q_tf")
    )
    postings = load_postings(spark, index_dir)
    stats = load_stats(index_dir)
    require_impacts(stats)
    n_buckets = stats["n_buckets"]
    if query_texts is not None:
        from splade_spark.functions.tokenize import py_tokenize

        toks = [t for txt in query_texts for t in py_tokenize(txt)]
        buckets = buckets_for_terms(toks, n_buckets)
    else:
        buckets = buckets_for_queries(queries, n_buckets)
    pruned = postings.filter(in_literals("bucket", buckets)).join(
        F.broadcast(qt.select("term_id").distinct()), "term_id", "left_semi"
    )
    decoded = decode_blocks_df(pruned, stats.get("gap_codec", "vbyte"))
    scored = (
        decoded.join(F.broadcast(qt), "term_id")
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(F.col("q_tf") * F.col("impact")), 6).alias("score"))
        .filter(F.col("score") > F.lit(threshold))
    )
    if query_texts is not None and len(query_texts) == 1:
        # single-query fast path: global orderBy+limit compiles to
        # TakeOrderedAndProject (per-partition partial top-k + driver
        # merge) instead of a one-partition window — measured p50
        # 6.5s -> 4.0s, p99 11.2s -> 6.7s on a 4M-doc index. The rank
        # window then runs over just k rows.
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return topk_window(top, k)
    return topk_window(scored, k)
