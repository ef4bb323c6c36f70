"""Benchmark of the engine's three stages in two workloads: ``ingest``
(Stage 1 scrape + delta, then Stage 2 over the downloads) and ``serve``
(Stage 3 catalog queries and hybrid retrieval).

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 1 --trace 0

Run from the repository root. ``ingest`` generates its inputs from
``--seed`` inside a work directory under the checkout (removed on exit);
``serve`` reads the read-only sf0.1 test tables and draws its request
sequence from ``--seed``. Everything runs in this process on
``local[nproc]``. A run measures a fixed amount of work — one ingest
cycle, or the serve workload's fixed request sequence — repeating
whole cycles only while fewer than ``--seconds`` have been measured.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs one
untraced pass and one stage-by-stage traced pass and reports the
per-layer metrics, including the tracing overhead (traced minus
untraced wall time). The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the full record (environment, per-stage figures, latency
percentiles). Any failed output check exits with status 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from common import REPO, RssSampler, Tracer, environment, isolate, metric

WORKLOADS = ("ingest", "serve")
# ingest: batch = pass 1 + delta + Stage 2, throughput = products taken
# through all three per second of it. serve: batch = the request
# sequence, throughput = requests/s. Shorter figures (pass 1, the delta
# job, Stage 2, request latencies) are in the record, not here: the
# end-to-end names are shared by both workloads, and on a 4-core VM the
# ingest-only figures' quartile spread over ten seeds reached 19-33%.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "batch_s": "s",
}
# Layer spans whose Spark counters the traced run reports.
SPARK_SPANS = (
    "sources.http.fetch_parse", "sources.http.download", "sources.http.parse_pages",
    "operators.incremental.anti_join", "operators.state", "sources.sinks.csv_write",
    "sources.binary.pdf_extract", "cli.curate", "operators.dedup.minhash_lsh",
    "operators.dedup.components", "operators.retrieval", "queries.catalog", "warmup",
)
SPARK_COUNTERS = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_mb": "MB",
    "spark.input_mb": "MB", "spark.executor_busy_share": "share",
}
LAYER_UNITS = {
    "sources.http.fetch_parse_s": "s",
    "sources.http.pages_fetched": "count",
    "sources.http.parse_pages_s": "s",
    "sources.http.download_s": "s",
    "sources.http.download_attempts_per_url": "1/url",
    "sources.http.download_mb": "MB",
    "fixture.requests_per_product": "1/product",
    "operators.incremental.anti_join_s": "s",
    "operators.state.s": "s",
    "operators.state.bytes_written": "B",
    "sources.sinks.csv_write_s": "s",
    "sources.sinks.bytes_per_product": "B/product",
    "sources.binary.pdf_extract_s": "s",
    "sources.binary.scan_tasks": "count",
    "sources.pdf_text.error_share": "share",
    "cli.curate_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.candidates_per_planted_pair": "1/pair",
    "operators.dedup.components_s": "s",
    "operators.dedup.components_jobs": "count",
    "operators.dedup.near_dup_recall": "share",
    "operators.dedup.near_dup_precision": "share",
    "operators.retrieval.build_s": "s",
    "operators.retrieval.exec_s": "s",
    "queries.catalog.build_s": "s",
    "queries.catalog.exec_s": "s",
    "queries.shared_cache.entries_built": "count",
    "session.start_s": "s",
    "queries.catalog.load_s": "s",
    "warmup_s": "s",
    "tracing_overhead_s": "s",
}


# Which end-to-end metric each layer's per-layer metrics should move,
# and on which workload.
LAYER_MOVES = {
    "sources.http": "ingest: throughput_per_s, batch_s (record: ingest.products_per_s, ingest.delta_s)",
    "fixture": "ingest: throughput_per_s, batch_s",
    # The delta's left-anti join as cli._cmd_delta runs it, inline: the
    # CLI does not call operators.incremental.delta_new_rows.
    "operators.incremental": "ingest: batch_s (record: ingest.delta_s)",
    "operators.state": "ingest: throughput_per_s, batch_s (record: ingest.products_per_s)",
    "sources.sinks": "ingest: throughput_per_s, batch_s (record: ingest.delta_s)",
    "sources.binary": "ingest: batch_s (record: curate.docs_per_s)",
    "sources.pdf_text": "ingest: batch_s (record: curate.docs_per_s)",
    "cli.curate": "ingest: batch_s (record: curate.docs_per_s)",
    "operators.dedup": "ingest: batch_s (record: curate.docs_per_s, near_dup_recall, near_dup_precision)",
    "operators.retrieval": "serve: throughput_per_s, batch_s (record: serve.retrieve_p50_s)",
    "queries.catalog": "serve: throughput_per_s, batch_s (record: serve.query_p50_s)",
    "queries.shared_cache": "serve: throughput_per_s (record: serve.query_p50_s)",
    "session.start_s": "all: setup_s",
    "queries.catalog.load_s": "all: setup_s",
    "warmup": "serve: setup_s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and unit, in BENCHMARK.json order."""
    units = dict(LAYER_UNITS)
    for span in SPARK_SPANS:
        for counter, unit in SPARK_COUNTERS.items():
            units[f"{span}.{counter}"] = unit
    return units


def make_workload(name: str, seed: int, work: str):
    if name == "ingest":
        from w_ingest import Ingest

        return Ingest(seed, work)
    from w_serve import Serve

    return Serve(seed)


def run(args, work: str, env: dict) -> tuple[dict, dict]:
    from common import start_spark, stop_spark

    workload = make_workload(args.workload, args.seed, work)
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work)
            t1 = time.perf_counter()
            from insurance_helper_spark.queries import catalog

            catalog.load_all()
            t2 = time.perf_counter()
            tracer = Tracer(spark, enabled=bool(args.trace))
            with tracer.span("warmup"):
                workload.warm_up(spark)
            t3 = time.perf_counter()
            setup = {"session.start_s": t1 - t0, "queries.catalog.load_s": t2 - t1, "warmup_s": t3 - t2}
            if args.trace:
                metrics, detail = traced_run(workload, spark, tracer, setup, int(env["SPARK_GRAFT_CPUS"]))
            else:
                result = workload.run(spark, args.seconds)
                detail = result.pop("detail")
                metrics = {"setup_s": metric(t3 - t0, "s"), **result}
        # Output checks (DuckDB, pyarrow reads, CSV parsing) run after the
        # RSS window closes, so peak_rss_mb leaves out the checker's memory.
        if not args.trace:
            metrics["peak_rss_mb"] = metric(rss.peak_mb, "MB")
        detail.update(workload.check())
        detail["environment"] = environment(env, spark)
        detail["setup"] = setup
    finally:
        if spark is not None:
            stop_spark(spark)
        workload.close()
    out = {
        "correct": not workload.errors,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "errors": workload.errors, "detail": detail}
    return out, record


def traced_run(workload, spark, tracer, setup: dict, cores: int) -> tuple[dict, dict]:
    """One traced and one untraced cycle, both warm; every per-layer
    metric (zero for layers this workload does not call)."""
    if workload.cold:
        workload.cycle(spark)  # so both measured cycles below run warm
    # Traced first: any warming still under way favours the untraced
    # cycle, so the overhead is not understated.
    traced = workload.traced(spark, tracer)
    untraced_s = workload.timed(workload.cycle(spark))
    metrics = {name: metric(0, unit) for name, unit in per_layer_units().items()}
    metrics.update(traced["layers"])
    for name, secs in setup.items():
        metrics[name] = metric(secs, "s")
    for span in SPARK_SPANS:
        for counter, value in tracer.spark_totals(span, cores).items():
            metrics[f"{span}.{counter}"] = metric(value, SPARK_COUNTERS[counter])
    metrics["tracing_overhead_s"] = metric(traced["timed_s"] - untraced_s, "s")
    detail = {"untraced_s": untraced_s, "traced_s": traced["timed_s"],
              "layer_moves": LAYER_MOVES, "spans": tracer.records()}
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "insurance_helper_spark", "__init__.py")):
        print("perfbench: insurance_helper_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        env = isolate(work)
        out, record = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
