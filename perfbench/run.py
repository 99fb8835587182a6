"""Layered end-to-end benchmark for splade_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload clustered --seed 7 --seconds 10 --trace 0

One run, in one driver process on ``local[<cpus>]``:

  set-up   session start, seeded corpus written to parquet, and (after
           the build) warm-up: a few serve queries and the Python worker
           pool                                      -> setup_s
  build    build_segments + finalize_index into a fresh directory; the
           first build of the process, as a one-shot build job runs it
           -> build_docs_per_s, index_bytes_per_text_byte
  serve    closed loop, one client: 100 single k=10 queries through
           search_maxscore_fused(as_local=True), and every 12th of them
           through the Spark-relation path (search_fused + toPandas)
           -> serve_p50_ms, serve_p90_ms, serve_relation_p50_ms
  batch    search_fused at k=1000 over the ``sparse`` query set (routed
           term-major) and the ``dense`` set (routed doc-major), two
           passes each, output written to parquet
           -> batch_sparse_qps, batch_dense_qps

Serve and batch run in four rounds, one per batch pass (sparse, dense,
sparse, dense): each round serves its quarter of the single queries in
small chunks, with its share of the relation-path queries between the
chunks, then runs its batch pass, so the serve samples are spread over
the whole measured window. The work of a run is fixed by the seed;
``--seconds`` is the nominal length of the measured window and does not
change what is measured.
Every answer is checked against ``splade_spark.oracle.OracleIndex``
(built outside set-up and timed regions): same doc ids, ranks and 6-dp
scores. A mismatch or an exception is a failed op. The last stdout line
is one JSON object; ``--trace 1`` reports the per-layer metrics instead
of the end-to-end ones and writes the spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_DOCS = 16_500
VOCAB = 3_000
WARMUP_QUERIES = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["clustered", "scattered"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_dirs(workload: str, seed: int) -> str:
    """Per-run scratch inside the checkout; Spark, JVM and Python temp
    files go there too."""
    work = os.path.join(ROOT, ".perfbench", f"work-{workload}-{seed}-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the session launches: temp files in the checkout, and no
    # hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return work


def start_spark(work: str):
    from splade_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = prepare_dirs(args.workload, args.seed)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def log(t0: float, what: str) -> None:
    print(f"[perfbench {time.perf_counter() - t0:7.2f}s] {what}", file=sys.stderr, flush=True)


def run(args, work: str) -> dict:
    import layers
    from corpus import Corpus
    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    t_setup = time.perf_counter()
    with tracer.span("session"):
        spark, cores = start_spark(work)
    session_s = time.perf_counter() - t_setup
    log(t_setup, "session started")
    try:
        bench = layers.Bench(
            spark, cores, Corpus(args.seed, N_DOCS, VOCAB, args.workload), work, tracer
        )
        with tracer.span("setup"):
            bench.write_corpus()
        setup_s = time.perf_counter() - t_setup
        log(t_setup, "corpus written")
        bench.build_oracle()  # outside set-up and every timed region
        log(t_setup, "oracle built")

        ops = layers.Ops()
        res = {"session.start_s": session_s}
        res.update(bench.build_phase(ops))
        log(t_setup, "build phase done")
        t_warm = time.perf_counter()
        with tracer.span("setup"):
            bench.warm_up(WARMUP_QUERIES)
        setup_s += time.perf_counter() - t_warm
        res["setup_s"] = setup_s
        log(t_setup, "query paths warmed up")
        res.update(bench.measure(ops))
        log(t_setup, "serve and batch measured")
        bench.check(ops)  # every timed answer, against the oracle
        log(t_setup, "answers checked")
        if args.trace:
            # end-to-end figures of the traced run, to set against an
            # untraced run of the same seed: the tracing overhead
            res.update({f"traced.{k}": v for k, v in list(res.items())})
            res.update(bench.layer_probes())
            res["proc.peak_rss_mb"] = bench.peak_rss_mb()
            res["trace.bookkeeping_ms"] = 1000 * tracer.bookkeeping_s
            for name, secs in tracer.self_times().items():
                res[f"self.{name}_s"] = secs
            tracer.dump(
                os.path.join(
                    ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.json"
                )
            )
        shape = bench.shape()
    finally:
        stop_spark(spark)
    log(t_setup, "session stopped")

    print(json.dumps({"shape": shape, "failures": ops.reasons}), flush=True)
    spec = load_metric_spec("per_layer" if args.trace else "end_to_end")
    missing = [m for m in spec if m not in res]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {name: {"value": float(res[name]), "unit": unit} for name, unit in spec.items()},
    }


def load_metric_spec(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


if __name__ == "__main__":
    sys.exit(main())
