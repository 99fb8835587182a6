"""The benchmark's phases: set-up, build, serve and batch, each timed from
outside the engine, plus the untimed per-layer probes of a traced run."""

from __future__ import annotations

import glob
import json
import os
import time

import numpy as np
import pandas as pd

from splade_spark.plans.snapshots import dir_bytes

from corpus import (
    Corpus,
    dense_queries,
    probe_queries,
    query_shape,
    serve_queries,
    sparse_queries,
)
from spans import (
    StatusStore,
    Tracer,
    classify_route,
    median,
    peak_rss_mb,
    percentile,
    stage_summary,
    tail_percentile,
)

SERVE_K = 10
BATCH_K = 1000
SERVE_TAIL = 90.0
# the batch passes of a run's measurement, in order: two of each set,
# one per round; each round also serves 1/len(BATCH_PASSES) of the
# single queries
BATCH_PASSES = ("sparse", "dense", "sparse", "dense")
# every RELATION_STRIDE-th serve query also runs on the relation path
# (9 of the 100)
RELATION_STRIDE = 12
CODEC_DECODE_S = 0.5


class Ops:
    """Attempted/failed op counts; keeps the first few failure reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 5:
                self.reasons.append(what)


def ranked_by_qid(pdf: pd.DataFrame) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Engine result rows -> {qid: (doc_ids, scores)} in rank order.
    A query whose ranks are not exactly 1..n maps to empty arrays with
    doc id -1, which never matches an oracle answer."""
    if pdf.empty:
        return {}
    pdf = pdf.sort_values(["qid", "rank"], kind="stable")
    qids = pdf["qid"].to_numpy()
    cuts = np.flatnonzero(np.diff(qids)) + 1
    out = {}
    for q, d, s, r in zip(
        np.split(qids, cuts),
        np.split(pdf["doc_id"].to_numpy(), cuts),
        np.split(pdf["score"].to_numpy(), cuts),
        np.split(pdf["rank"].to_numpy(), cuts),
    ):
        if not np.array_equal(r, np.arange(1, len(r) + 1)):
            d, s = np.array([-1]), np.array([-1.0])
        out[int(q[0])] = (d.astype(np.int64), np.round(s.astype(np.float64), 6))
    return out


class Oracle:
    """OracleIndex.score_query answers as arrays, memoised per (text, k)."""

    def __init__(self, texts: list[str]):
        from splade_spark.oracle import OracleIndex

        self.index = OracleIndex(dict(enumerate(texts)))
        self._memo: dict[tuple[str, int], tuple[np.ndarray, np.ndarray]] = {}

    def answer(self, text: str, k: int) -> tuple[np.ndarray, np.ndarray]:
        key = (text, k)
        if key not in self._memo:
            rows = self.index.score_query(text, k)
            self._memo[key] = (
                np.array([d for d, _ in rows], dtype=np.int64),
                np.array([s for _, s in rows], dtype=np.float64),
            )
        return self._memo[key]

    def check(self, pdf: pd.DataFrame, queries, k: int, ops: Ops, what: str) -> None:
        """One op per query: same doc ids, ranks and 6-dp scores."""
        got = ranked_by_qid(pdf)
        empty = (np.zeros(0, np.int64), np.zeros(0))
        for qid, text in queries:
            d, s = got.get(qid, empty)
            want_d, want_s = self.answer(text, k)
            ok = np.array_equal(d, want_d) and np.array_equal(s, want_s)
            ops.record(ok, f"{what} qid={qid}")


def share(items: list, i: int, n: int) -> list:
    """The i-th of n contiguous, near-equal shares of ``items``."""
    m = len(items)
    return items[i * m // n : (i + 1) * m // n]


def cpu_times() -> list[int]:
    """Machine-wide jiffies from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def machine_share(before: list[int], after: list[int]) -> dict:
    """Shares of machine CPU time over a run: busy, and stolen by the
    hypervisor for other guests (a run with high steal is disturbed)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": round(1 - (d[3] + d[4] + d[7]) / total, 3), "steal": round(d[7] / total, 3)}


class Bench:
    """One run's engine session, corpus, index and measurements."""

    def __init__(self, spark, cores: int, corpus: Corpus, work: str, tracer: Tracer):
        self.spark, self.cores, self.c = spark, cores, corpus
        self.work, self.tr = work, tracer
        self.store = StatusStore(spark) if tracer.enabled else None
        self.corpus_path = os.path.join(work, "corpus.parquet")
        self.index = os.path.join(work, "index")
        self.serve_qs = serve_queries(corpus)
        self.batch_qs = {"sparse": sparse_queries(corpus), "dense": dense_queries(corpus)}
        self.layer: dict = {}
        self.samples: dict = {}
        self.cpu0 = cpu_times()

    # --- set-up --------------------------------------------------------------

    def write_corpus(self) -> None:
        self.texts = self.c.texts()
        pd.DataFrame(
            {"doc_id": np.arange(self.c.n_docs, dtype=np.int64), "text": self.texts}
        ).to_parquet(self.corpus_path, index=False)

    def warm_up(self, n_queries: int) -> None:
        """First-call costs of the query paths, paid before timing: a few
        driver-path queries and one Python worker per core with the
        engine modules imported. The first full-size batch pass still
        runs up to ~30% slower than the next; the batch figures are the
        median over the rounds' passes, this one included."""
        from splade_spark.operators.maxscore import search_maxscore_fused

        for qid, text in self.serve_qs[:n_queries]:
            search_maxscore_fused(
                self.spark, self.index, [(qid, text)], k=SERVE_K, as_local=True
            )

        def touch(batches):
            import splade_spark.operators.index_query  # noqa: F401

            yield from batches

        self.spark.range(0, self.cores, 1, self.cores).mapInPandas(
            touch, "id long"
        ).collect()

    def build_oracle(self) -> None:
        self.oracle = Oracle(self.texts)

    # --- build -----------------------------------------------------------------

    def build_phase(self, ops: Ops) -> dict:
        from splade_spark.operators.index_build import build_segments, finalize_index
        from splade_spark.operators.index_query import search_fused
        from splade_spark.plans.snapshots import Manifest

        docs = self.spark.read.parquet(self.corpus_path)
        keys0 = self.store.stage_keys() if self.store else None
        t0 = time.perf_counter()
        with self.tr.span("build"):
            with self.tr.span("build_segments"):
                build_segments(docs, self.index)
            t_seg = time.perf_counter()
            keys1 = self.store.stage_keys() if self.store else None
            t_fin = time.perf_counter()
            with self.tr.span("finalize_index"):
                finalize_index(self.spark, self.index)
        t1 = time.perf_counter()
        if self.store:
            self.layer["build.segments_s"] = t_seg - t0
            self.layer["build.finalize_s"] = t1 - t_fin
            self._build_stages = (self.store.since(keys0), keys1)
        build_s = t1 - t0

        committed = "index" in Manifest.load(self.index).committed("finalize")
        ops.record(committed, "build: index not committed")
        probes = probe_queries(self.c)
        try:
            pdf = search_fused(self.spark, self.index, probes, k=SERVE_K).toPandas()
            self.oracle.check(pdf, probes, SERVE_K, ops, "build probe")
        except Exception as e:  # a failed probe is a failed op, not a crash
            for _ in probes:
                ops.record(False, f"build probe: {type(e).__name__}: {e}")
        index_bytes = dir_bytes(self.index) - dir_bytes(
            os.path.join(self.index, "segments")
        )
        return {
            "build_docs_per_s": self.c.n_docs / build_s,
            "index_bytes_per_text_byte": index_bytes / self.c.shape(self.texts)["text_bytes"],
        }

    # --- serve and batch, interleaved ------------------------------------------

    def measure(self, ops: Ops) -> dict:
        """Serve and batch measurements, interleaved finely so that a
        passing slow spell of the shared machine touches a slice of every
        metric's samples rather than all of one metric's. There is one
        round per batch pass (BATCH_PASSES); a round serves its share of
        the single queries in small chunks with its share of the relation
        queries between them, then runs its batch pass. Batch figures are
        the median over each set's passes."""
        self.lat, self.driver_path, self.jobs, self.served = [], [], [], []
        self.rel_lat, self.rel_plan, self.rel_served = [], [], []
        self.walls = {name: [] for name in self.batch_qs}
        self.plans = {name: [] for name in self.batch_qs}
        self.written, self.batch_stages = [], {}
        rel_qs = self.serve_qs[::RELATION_STRIDE]
        t_local = 0.0
        for r, name in enumerate(BATCH_PASSES):
            serve = share(self.serve_qs, r, len(BATCH_PASSES))
            rel = share(rel_qs, r, len(BATCH_PASSES))
            for i in range(len(rel) + 1):
                t = time.perf_counter()
                self._serve_local(ops, share(serve, i, len(rel) + 1))
                t_local += time.perf_counter() - t
                self._serve_relation(ops, rel[i : i + 1])
            self._batch_pass(ops, name, r)

        ms = [1000 * x for x in self.lat]
        tail = tail_percentile(len(ms), SERVE_TAIL)
        self.samples.update(
            {
                "serve": {"n": len(ms), "tail_percentile": tail},
                "serve_relation": {"n": len(self.rel_lat)},
                "batch_walls_s": {
                    k: [round(w, 3) for w in v] for k, v in self.walls.items()
                },
            }
        )
        out = {
            "serve_p50_ms": median(ms),
            "serve_p90_ms": percentile(ms, tail),
            "serve_relation_p50_ms": 1000 * median(self.rel_lat),
        }
        for name, qs in self.batch_qs.items():
            out[f"batch_{name}_qps"] = len(qs) / median(self.walls[name])
        if self.store:
            n = len(ms)
            drv = [m for m, d in zip(ms, self.driver_path) if d]
            clu = [m for m, d in zip(ms, self.driver_path) if not d]
            self.layer.update(
                {
                    "serve.qps": n / t_local,
                    "serve.driver_path_share": len(drv) / n,
                    "serve.jobs_per_query": sum(self.jobs) / n,
                    "serve.driver_path_p50_ms": median(drv) if drv else 0.0,
                    "serve.cluster_path_p50_ms": median(clu) if clu else 0.0,
                    "serve.relation.plan_ms": 1000 * median(self.rel_plan),
                    "serve.relation.exec_ms": 1000
                    * median([a - b for a, b in zip(self.rel_lat, self.rel_plan)]),
                }
            )
            for name, qs in self.batch_qs.items():
                self.layer[f"batch.{name}.plan_s"] = median(self.plans[name])
                self.layer[f"batch.{name}.exec_s"] = median(
                    [w - p for w, p in zip(self.walls[name], self.plans[name])]
                )
                self._batch_layers(name, qs, *self.batch_stages[name])
            self._serve_debug(self.serve_qs)
        return out

    def _serve_local(self, ops: Ops, qs) -> None:
        """Closed loop, one client: search_maxscore_fused(as_local=True)."""
        from splade_spark.operators.maxscore import search_maxscore_fused

        for qid, text in qs:
            j0 = self.store.last_job_id() if self.store else 0
            t = time.perf_counter()
            try:
                with self.tr.span("search_maxscore_fused", request=len(self.lat)):
                    pdf = search_maxscore_fused(
                        self.spark, self.index, [(qid, text)], k=SERVE_K, as_local=True
                    )
            except Exception as e:  # a failed query is a failed op
                pdf = None
                ops.record(False, f"serve qid={qid}: {type(e).__name__}: {e}")
            self.lat.append(time.perf_counter() - t)
            self.served.append((qid, text, pdf))
            if self.store:
                dj = self.store.last_job_id() - j0
                self.jobs.append(dj)
                self.driver_path.append(dj == 0)

    def _serve_relation(self, ops: Ops, qs) -> None:
        """Closed loop, one client: search_fused, then toPandas()."""
        from splade_spark.operators.index_query import search_fused

        for qid, text in qs:
            t = time.perf_counter()
            try:
                with self.tr.span("serve.relation", request=len(self.rel_lat)):
                    with self.tr.span("search_fused"):
                        df = search_fused(self.spark, self.index, [(qid, text)], k=SERVE_K)
                    tp = time.perf_counter()
                    with self.tr.span("collect"):
                        pdf = df.toPandas()
            except Exception as e:  # a failed query is a failed op
                pdf, tp = None, time.perf_counter()
                ops.record(False, f"relation qid={qid}: {type(e).__name__}: {e}")
            self.rel_lat.append(time.perf_counter() - t)
            self.rel_plan.append(tp - t)
            self.rel_served.append((qid, text, pdf))

    def _batch_pass(self, ops: Ops, name: str, r: int) -> None:
        """search_fused at k=1000 over one batch query set, run written to
        parquet."""
        from splade_spark.operators.index_query import search_fused

        qs = self.batch_qs[name]
        out = os.path.join(self.work, f"run-{name}-{r}")
        keys0 = self.store.stage_keys() if self.store else None
        t = time.perf_counter()
        try:
            with self.tr.span(f"batch.{name}"):
                with self.tr.span("search_fused"):
                    df = search_fused(self.spark, self.index, qs, k=BATCH_K)
                tp = time.perf_counter()
                with self.tr.span("write_run"):
                    df.write.mode("overwrite").parquet(out)
        except Exception as e:  # every query of the pass failed
            for _ in qs:
                ops.record(False, f"batch.{name}: {type(e).__name__}: {e}")
            return
        self.walls[name].append(time.perf_counter() - t)
        self.plans[name].append(tp - t)
        self.written.append((name, qs, out))
        if self.store:  # the last pass's stages: the warmest
            self.batch_stages[name] = (df, self.store.since(keys0))

    def check(self, ops: Ops) -> None:
        """Every timed answer against the oracle, after the timed loops."""
        for what, served in (("serve", self.served), ("relation", self.rel_served)):
            for qid, text, pdf in served:
                if pdf is not None:
                    self.oracle.check(pdf, [(qid, text)], SERVE_K, ops, what)
        for name, qs, out in self.written:
            self.oracle.check(pd.read_parquet(out), qs, BATCH_K, ops, f"batch.{name}")

    def _serve_debug(self, qs) -> None:
        """Untimed pass with debug_counts: block pruning and fallbacks."""
        from splade_spark.operators.maxscore import search_maxscore_fused

        kept = total = fallbacks = 0
        for qid, text in qs:
            dbg: dict = {}
            search_maxscore_fused(
                self.spark, self.index, [(qid, text)], k=SERVE_K,
                debug_counts=dbg, as_local=True,
            )
            if not dbg:
                fallbacks += 1
            kept += dbg.get("blocks_kept", 0)
            total += dbg.get("blocks_total", 0)
        self.layer["serve.fallback_share"] = fallbacks / len(qs)
        self.layer["serve.blocks_kept_ratio"] = kept / total if total else 0.0

    def _batch_layers(self, name: str, qs, df, stages) -> None:
        route = classify_route(df._jdf.queryExecution().executedPlan().toString())
        pairs = query_shape(self.c, qs)["candidate_pairs"]
        s = stage_summary(stages)
        p = f"batch.{name}"
        self.layer.update(
            {
                f"{p}.route_doc_major": float(route == "doc-major"),
                f"{p}.candidate_pairs": pairs,
                f"{p}.shuffle_write_bytes": s["shuffle_write_bytes"],
                f"{p}.shuffle_bytes_per_candidate_pair": s["shuffle_write_bytes"] / pairs,
                f"{p}.stages": s["stages"],
                f"{p}.tasks": s["tasks"],
                f"{p}.max_task_ms": s["max_task_ms"],
                f"{p}.median_task_ms": s["median_task_ms"],
                f"{p}.executor_run_ms": s["executor_run_ms"],
            }
        )
        self.samples[f"{p}.route"] = route

    # --- per-layer probes (traced run, untimed) --------------------------------

    def layer_probes(self) -> dict:
        self._build_layers()
        self._codec_layers()
        return self.layer

    def _build_layers(self) -> None:
        import pyarrow.dataset as pads

        from splade_spark.plans.snapshots import Manifest

        man = Manifest.load(self.index)
        fin = {s["key"]: s for s in man.snapshots if s["stage"] == "finalize"}
        segs = [s for s in man.snapshots if s["stage"] == "segment"]
        wall = {k: fin[k]["wall_ms"] / 1000 for k in ("stats", "term_dict", "postings")}
        wall["term_max"] = fin["index"]["wall_ms"] / 1000 - sum(wall.values())
        stages, keys_a = self._build_stages
        stage_a = [s for s in stages if (s.stage_id, s.attempt) in keys_a]
        stage_b = [s for s in stages if (s.stage_id, s.attempt) not in keys_a]
        # postings step: the stages submitted between the term_dict and
        # postings commits; the encoder is the one with the most task time
        lo, hi = 1000 * fin["term_dict"]["ts"], 1000 * fin["postings"]["ts"]
        post = [s for s in stage_b if lo <= s.submitted_ms <= hi]
        enc = max(post, key=lambda s: s.executor_run_ms) if post else None
        with open(os.path.join(self.index, "stats.json")) as f:
            salt_unit = int(json.load(f)["salt_unit"])
        dfs = (
            pads.dataset(os.path.join(self.index, "term_dict"))
            .to_table(columns=["df"])
            .column("df")
            .to_numpy()
        )
        groups = int(np.sum(np.maximum(np.ceil(dfs / salt_unit), 1)))
        self.layer.update(
            {
                "build.segments_bytes": sum(s["bytes"] for s in segs),
                "build.segments_shuffle_write_bytes": sum(
                    s.shuffle_write_bytes for s in stage_a
                ),
                **{f"build.finalize.{k}_s": v for k, v in wall.items()},
                "build.finalize_shuffle_write_bytes": sum(
                    s.shuffle_write_bytes for s in stage_b
                ),
                "build.spill_bytes": sum(s.spill_bytes for s in stages),
                "build.postings_stage_max_task_ms": max(enc.task_ms) if enc else 0,
                "build.postings_stage_median_task_ms": median(enc.task_ms) if enc else 0,
                "build.encoder_groups": groups,
                "build.postings_per_encoder_group": float(dfs.sum()) / groups,
            }
        )
        self._postings_total = int(dfs.sum())

    def _codec_layers(self) -> None:
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        from splade_spark.operators.index_query import decode_blocks_vectorized

        post_dir = os.path.join(self.index, "postings")
        files = sorted(glob.glob(os.path.join(post_dir, "*", "*.parquet")))
        metas = [pq.ParquetFile(f).metadata for f in files]
        post_bytes = dir_bytes(post_dir)
        self.layer.update(
            {
                "build.postings_bytes": post_bytes,
                "build.bytes_per_posting": post_bytes / self._postings_total,
                "build.blocks": sum(m.num_rows for m in metas),
                "build.row_groups": sum(m.num_row_groups for m in metas),
            }
        )
        # the sparse phase's blocks, decoded on the driver
        td = pads.dataset(os.path.join(self.index, "term_dict")).to_table(
            columns=["term", "term_id"]
        )
        tid = dict(zip(td.column("term").to_pylist(), td.column("term_id").to_pylist()))
        sparse = self.batch_qs["sparse"]
        want = sorted({tid[t] for _, q in sparse for t in q.split() if t in tid})
        blocks = pads.dataset(post_dir, partitioning="hive").to_table(
            columns=["term_id", "first_doc_id", "n", "doc_gap_bytes", "impact_bytes"],
            filter=pads.field("term_id").isin(want),
        )
        first = blocks.column("first_doc_id").to_numpy().astype(np.int64)
        ns = blocks.column("n").to_numpy().astype(np.int64)
        gaps = blocks.column("doc_gap_bytes").to_pylist()
        imps = blocks.column("impact_bytes").to_pylist()
        reps, t0 = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t0 < CODEC_DECODE_S:
            with self.tr.span("decode_blocks_vectorized"):
                decode_blocks_vectorized(first, ns, gaps, imps)
            reps += 1
        self.layer["codec.decode_postings_per_s"] = (
            reps * int(ns.sum()) / (time.perf_counter() - t0)
        )

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return peak_rss_mb([os.getpid()] + ([proc.pid] if proc else []))

    def shape(self) -> dict:
        return {
            "cores": self.cores,
            "machine": machine_share(self.cpu0, cpu_times()),
            "corpus": self.c.shape(self.texts),
            "queries": {
                "serve": query_shape(self.c, self.serve_qs),
                **{n: query_shape(self.c, qs) for n, qs in self.batch_qs.items()},
            },
            "samples": self.samples,
        }
