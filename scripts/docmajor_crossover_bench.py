"""Empirical doc-major/term-major crossover (VERDICT r4 next #6).

DOC_MAJOR_FACTOR compares the dictionary-estimated candidate pairs
(term-major's score-shuffle row count) against doc-major's emission
bound (n_parts x n_queries x k). This sweep measures BOTH plans' wall
time across corpora of varying match depth (same doc count, shrinking
vocabulary -> growing df) and batch sizes, prints the ratio
candidate_pairs / emit_bound next to the winner, and thereby locates
the knee the constant should sit at.

One JVM, one index per vocabulary level; every (vocab, batch) cell
runs term-major and doc-major over the SAME queries with k=1000.
Usage: python scripts/docmajor_crossover_bench.py [--docs 1000000]
         [--vocabs 50000,2000,200] [--batches 64,512] [--cores 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vocabs", default="50000,2000,200")
    ap.add_argument("--batches", default="64,512")
    ap.add_argument("--tokens-per-doc", type=int, default=12)
    ap.add_argument("--k", type=int, default=1000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--terms-per-query", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import search_fused
    from splade_spark.session import get_spark

    spark = get_spark(app="dm-crossover", cores=args.cores)
    n, T, k = args.docs, args.tokens_per_doc, args.k
    n_parts = max(args.cores * 2, 8)
    P1, P2, P3 = 40503, 104729, 7919
    rows = []
    for V in (int(v) for v in args.vocabs.split(",")):
        tok_cols = [
            F.concat(
                F.lit("w"),
                F.pmod(
                    F.col("doc_id") * P1
                    + F.lit(j * P2)
                    + F.shiftright(F.col("doc_id"), 7) * P3,
                    F.lit(V),
                ).cast("string"),
            )
            for j in range(T)
        ]
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *tok_cols).alias("text"),
        ).repartition(args.cores * 4, "doc_id")
        idx = tempfile.mkdtemp(prefix=f"dmx_v{V}_")
        t0 = time.time()
        build_index(docs, idx, n_segments=4)
        build_s = time.time() - t0
        df_est = T * n / V  # every term ~equal df in this fixture
        for B in (int(b) for b in args.batches.split(",")):
            qs = [
                (
                    q,
                    " ".join(
                        f"w{(q * 131 + j * 37) % V}"
                        for j in range(args.terms_per_query)
                    ),
                )
                for q in range(B)
            ]
            cand = B * args.terms_per_query * df_est
            ratio = cand / (n_parts * B * k)
            cell = {"vocab": V, "df_est": int(df_est), "batch": B,
                    "ratio": round(ratio, 2), "build_s": round(build_s, 1)}
            for strat in ("term", "doc"):
                best = None
                for _ in range(2):  # best-of-2: first run pays JIT
                    t0 = time.time()
                    cnt = search_fused(spark, idx, qs, k=k, strategy=strat).count()
                    w = time.time() - t0
                    best = w if best is None else min(best, w)
                cell[f"{strat}_s"] = round(best, 2)
                cell[f"{strat}_rows"] = cnt
            # both plans are exact: a row-count mismatch is a wrong
            # answer, not a timing result
            assert cell["term_rows"] == cell["doc_rows"], cell
            cell["winner"] = "doc" if cell["doc_s"] < cell["term_s"] else "term"
            rows.append(cell)
            print(json.dumps(cell), flush=True)
    print(json.dumps({"sweep": rows}))


if __name__ == "__main__":
    main()
