"""``ingest``: the reference's product and the stage that consumes it.

One cycle, run as a fresh batch job would (no warm-up: the CLI pays its
cold start on every run, so pass 1 includes it):

1. ``scrape`` into empty state — every listing page, every document.
2. The site publishes ~5% new listings; ``delta`` (the monthly job)
   appends exactly those.
3. Stage 2 over everything downloaded: PDF text extraction, the
   ``curate`` command, MinHash-LSH near-duplicate removal.

Untraced, steps 1-2 go through ``cli.main`` as a user runs them. Traced,
the benchmark calls each stage's public function in the order
``cli._cmd_scrape`` / ``cli._cmd_delta`` use, materializing each
stage's result inside its own span.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil
import time
from statistics import median

import gen
import stage2
from common import metric
from fixture_site import FixtureSite
from insurance_helper_spark.cli import URL_PATHS

# Share of the reference's row counts the site publishes.
SCALE = 0.1
# The product type both passes scrape (``--type``): the largest one.
# Each type adds a fixed ~10 s of Spark jobs per cycle, so ``all`` does
# not fit the benchmark's run budget.
PRODUCT_TYPE = "nonlife"
_STAMP = "yyyy-MM-dd'T'HH:mm:ss"


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn)) for root, _, files in os.walk(path) for fn in files
    )


def _csv_rows(files: list[str]) -> list[dict]:
    rows = []
    for path in sorted(files):
        with open(path, newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


def _part_files(out: str) -> list[str]:
    return sorted(glob.glob(f"{out}/metadata/{PRODUCT_TYPE}/part-*.csv"))


class Ingest:
    name = "ingest"
    cold = True  # no warm-up; the traced run warms with one extra cycle

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.site = gen.make_site(seed, SCALE, (PRODUCT_TYPE,))
        self.n_products = {phase: sum(r.valid for r in self.site.rows(PRODUCT_TYPE, phase)) for phase in (1, 2)}
        self.doc_ids = {gen.doc_id_of(r.uid) for r in self.site.rows(PRODUCT_TYPE, 2) if r.valid}
        self.fixture = FixtureSite(self.site).__enter__()
        self.base = self.fixture.base_url
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.stage2_check = stage2.Stage2Check(self.site.corpora[PRODUCT_TYPE], self._fail)
        self.quality: dict = {}
        self._unchecked: list[tuple] = []
        self._cycles = 0

    def close(self) -> None:
        self.fixture.__exit__(None, None, None)

    def _fail(self, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(msg)

    @staticmethod
    def timed(cycle: dict) -> float:
        return cycle["batch_s"]

    def _dirs(self, tag: str) -> tuple[str, str]:
        out = os.path.join(self.work, tag)
        shutil.rmtree(out, ignore_errors=True)
        return out, os.path.join(out, "state")

    def _cli(self, spark, argv: list[str]) -> None:
        from insurance_helper_spark import cli

        lines: list[str] = []
        argv = argv + ["--rate-limit", "0", "--base-url", self.base]
        if cli.main(argv, spark=spark, out=lines.append) != 0:
            raise RuntimeError(f"cli {argv[0]} failed: {lines[-3:]}")

    def warm_up(self, spark) -> None:
        """None: a batch run starts cold (see the module docstring)."""

    def check(self) -> dict:
        """The output checks of every untraced cycle, run after the
        measured window; returns the Stage 2 quality figures."""
        for args in self._unchecked:
            self._account(*args)
        self._unchecked = []
        return {
            "curate.near_dup_recall": metric(self.quality["recall"], "share"),
            "curate.near_dup_precision": metric(self.quality["precision"], "share"),
            "stage2": self.quality,
        }

    # -- checks -------------------------------------------------------------------
    def _check_products(self, files: list[str], only_new: bool) -> int:
        """CSV rows equal the valid listings (only the new ones for the
        files pass 2 appended) and every listed document was downloaded
        byte-for-byte. Returns the products missing or not downloaded."""
        pt = PRODUCT_TYPE
        missing = 0
        want = gen.expected_products(self.site, self.base, pt, 2)
        if only_new:
            new = {self.base + self.site.doc_path(pt, r.uid) for r in self.site.listings[pt] if r.new}
            want = {u: v for u, v in want.items() if u in new}
        rows = _csv_rows(files)
        got = {r["document_url"]: r for r in rows}
        if len(rows) != len(got) or set(got) != set(want):
            self._fail(f"{pt}: {len(rows)} csv rows / {len(got)} urls, want {len(want)}")
        for url, exp in want.items():
            row = got.get(url)
            if row is None:
                missing += 1
                continue
            for col, val in exp.items():
                if (row.get(col) or "") != val:
                    self._fail(f"{pt} {url} {col}: {row.get(col)!r} != {val!r}")
            path = row.get("local_file_path") or ""
            if row.get("download_success") != "true" or not os.path.isfile(path):
                missing += 1
                continue
            with open(path, "rb") as f:
                if f.read() != self.site.documents[url[len(self.base):]]:
                    self._fail(f"{pt} {url}: downloaded bytes differ")
        return missing

    def _check_state(self, state_dir: str) -> None:
        import pyarrow.parquet as pq

        done = set(pq.read_table(f"{state_dir}/completed_downloads").column("url").to_pylist())
        want = set(gen.expected_products(self.site, self.base, PRODUCT_TYPE, 1))
        if done != want:
            self._fail(f"completed_downloads holds {len(done)} urls, want {len(want)}")

    def _account(self, out, state_dir, before, served, lines) -> None:
        """All output checks of one cycle, plus failure accounting:
        operations are page fetches, downloads and PDF extractions."""
        after = _part_files(out)
        self._check_state(state_dir)
        missing = self._check_products(after, only_new=False)
        self._check_products([f for f in after if f not in before], only_new=True)
        q = self.quality = self.stage2_check(f"{out}/stage2", lines, self.doc_ids)
        self.attempted += sum(s["listing"] + s["document"] + s["other"] for s in served) + q["documents"]
        self.failed += missing + sum(s["other"] for s in served)
        self.failed += q["extract_failures_known_defect"] + q["extract_failures_unexpected"]

    # -- untraced -----------------------------------------------------------------
    def cycle(self, spark) -> dict:
        """One untraced cycle; its outputs stay on disk until ``check``."""
        self._cycles += 1
        out, state = self._dirs(f"cycle-{self._cycles}")
        self.fixture.phase = 1
        self.fixture.reset_counts()
        t0 = time.perf_counter()
        self._cli(spark, ["scrape", "--type", PRODUCT_TYPE, "--output", out, "--state-dir", state])
        t1 = time.perf_counter()
        before = _part_files(out)
        served1 = self.fixture.reset_counts()
        self.fixture.phase = 2
        t2 = time.perf_counter()
        self._cli(spark, ["delta", "--type", PRODUCT_TYPE, "--output", out])
        t3 = time.perf_counter()
        served2 = self.fixture.reset_counts()
        stage_out = f"{out}/stage2"
        stage2.extract(spark, f"{out}/downloads", stage_out)
        t4 = time.perf_counter()
        lines = stage2.curate_cmd(spark, stage_out)
        t5 = time.perf_counter()
        stage2.near_dedup(spark, stage_out)
        t6 = time.perf_counter()
        self._unchecked.append((out, state, before, (served1, served2), lines))
        return {
            "pass1_s": t1 - t0, "delta_s": t3 - t2, "stage2_s": t6 - t3,
            "extract_s": t4 - t3, "curate_s": t5 - t4, "dedup_s": t6 - t5,
            "batch_s": (t1 - t0) + (t6 - t2),
        }

    def run(self, spark, seconds: float) -> dict:
        cycles = []
        start = time.perf_counter()
        while not cycles or time.perf_counter() - start < seconds:
            cycles.append(self.cycle(spark))

        def med(key: str) -> float:
            return median([c[key] for c in cycles])

        return {
            "throughput_per_s": metric(self.n_products[2] / med("batch_s"), "1/s"),
            "batch_s": metric(med("batch_s"), "s"),
            "detail": {
                "ingest.products_per_s": metric(self.n_products[1] / med("pass1_s"), "1/s"),
                "ingest.delta_s": metric(med("delta_s"), "s"),
                "curate.docs_per_s": metric(len(self.doc_ids) / med("stage2_s"), "1/s"),
                "steps_s": {k: med(k) for k in ("pass1_s", "delta_s", "extract_s", "curate_s", "dedup_s")},
                "cycles": len(cycles),
                "products": self.n_products,
            },
        }

    # -- traced -------------------------------------------------------------------
    def traced(self, spark, tracer) -> dict:
        """The cycle stage by stage, each stage materialized in a span;
        returns the per-layer metrics this workload owns."""
        out, state_dir = self._dirs("traced")
        self.fixture.phase = 1
        self.fixture.reset_counts()
        t0 = time.perf_counter()
        counts = {"pages": 0, "attempts": 0, "urls": 0, "bytes": 0}
        before = self._traced_scrape(spark, tracer, out, state_dir, counts)
        state_bytes = _du(state_dir)
        served1 = self.fixture.reset_counts()
        self.fixture.phase = 2
        self._traced_delta(spark, tracer, out, counts)
        served2 = self.fixture.reset_counts()
        stage_out = f"{out}/stage2"
        with tracer.span("sources.binary.pdf_extract"):
            stage2.extract(spark, f"{out}/downloads", stage_out)
        with tracer.span("cli.curate"):
            lines = stage2.curate_cmd(spark, stage_out)
        n_cand = self._traced_near_dedup(spark, tracer, stage_out)
        traced_s = time.perf_counter() - t0
        self._account(out, state_dir, before, (served1, served2), lines)
        self._traced_replay(spark, tracer)

        q = self.quality
        requests = sum(s["listing"] + s["document"] + s["other"] for s in (served1, served2))
        planted = q["planted_near_pairs"]
        total = tracer.total
        layers = {
            "sources.http.fetch_parse_s": metric(total("sources.http.fetch_parse"), "s"),
            "sources.http.pages_fetched": metric(counts["pages"], "count"),
            "sources.http.parse_pages_s": metric(total("sources.http.parse_pages"), "s"),
            "sources.http.download_s": metric(total("sources.http.download"), "s"),
            "sources.http.download_attempts_per_url": metric(counts["attempts"] / counts["urls"], "1/url"),
            "sources.http.download_mb": metric(counts["bytes"] / 1e6, "MB"),
            "fixture.requests_per_product": metric(requests / self.n_products[2], "1/product"),
            "operators.incremental.anti_join_s": metric(total("operators.incremental.anti_join"), "s"),
            "operators.state.s": metric(total("operators.state"), "s"),
            "operators.state.bytes_written": metric(state_bytes, "B"),
            "sources.sinks.csv_write_s": metric(total("sources.sinks.csv_write"), "s"),
            "sources.sinks.bytes_per_product": metric(_du(f"{out}/metadata") / self.n_products[2], "B/product"),
            "sources.binary.pdf_extract_s": metric(total("sources.binary.pdf_extract"), "s"),
            "sources.binary.scan_tasks": metric(
                tracer.spark_totals("sources.binary.pdf_extract", 1)["spark.tasks"], "count"
            ),
            "sources.pdf_text.error_share": metric(
                (q["extract_failures_known_defect"] + q["extract_failures_unexpected"]) / q["documents"], "share"
            ),
            "cli.curate_s": metric(total("cli.curate"), "s"),
            "operators.dedup.minhash_lsh_s": metric(total("operators.dedup.minhash_lsh"), "s"),
            "operators.dedup.candidate_pairs": metric(n_cand, "count"),
            "operators.dedup.candidates_per_planted_pair": metric(n_cand / planted if planted else 0.0, "1/pair"),
            "operators.dedup.components_s": metric(total("operators.dedup.components"), "s"),
            "operators.dedup.components_jobs": metric(
                tracer.spark_totals("operators.dedup.components", 1)["spark.jobs"], "count"
            ),
            "operators.dedup.near_dup_recall": metric(q["recall"], "share"),
            "operators.dedup.near_dup_precision": metric(q["precision"], "share"),
        }
        return {"timed_s": traced_s, "layers": layers}

    def _download(self, tracer, frame, completed, out, counts):
        from pyspark.sql import functions as F

        from insurance_helper_spark.sources import http

        with tracer.span("sources.http.download"):
            tasks = http.build_download_tasks(frame, PRODUCT_TYPE, completed, f"{out}/downloads")
            results = http.download_batch(tasks, None, http.ScrapeConfig(rate_limit=0)).localCheckpoint(eager=True)
            stats = results.agg(
                F.count("*").alias("n"), F.sum("attempts").alias("a"), F.sum("file_size").alias("b")
            ).first()
            joined = http.join_results(frame, results).localCheckpoint(eager=True)
        counts["urls"] += stats["n"]
        counts["attempts"] += stats["a"] or 0
        counts["bytes"] += stats["b"] or 0
        return joined

    def _fetch(self, spark, tracer, start, counts):
        from pyspark.sql import functions as F

        from insurance_helper_spark.sources import http

        pt = PRODUCT_TYPE
        template = f"{self.base}{URL_PATHS[pt]}?_cur={{page}}"
        with tracer.span("sources.http.fetch_parse") as sp:
            total = http.probe_total_pages(template, http.default_fetcher())
            pages = http.page_urls(spark, template, total, start)
            parsed = http.fetch_and_parse_pages(
                pages, None, http.ScrapeConfig(rate_limit=0)
            ).localCheckpoint(eager=True)
            sp.counts["pages"] = parsed.select("page").distinct().count()
        counts["pages"] += sp.counts["pages"]
        products = http.project_products(parsed, pt).withColumn(
            "scraped_at", F.date_format(F.current_timestamp(), _STAMP)
        )
        return total, products

    def _traced_scrape(self, spark, tracer, out, state_dir, counts) -> list[str]:
        from pyspark.sql import functions as F

        from insurance_helper_spark.operators import state as state_ops
        from insurance_helper_spark.sources import sinks

        pt = PRODUCT_TYPE
        with tracer.span("operators.state"):
            store = state_ops.StateStore(spark, state_dir)
            start = store.start_session(pt, resume=True)
            completed = store.read("completed_downloads")
        total, products = self._fetch(spark, tracer, start, counts)
        joined = self._download(tracer, products, completed, out, counts)
        n = joined.count()
        with tracer.span("operators.state"):
            state_ops.record_download_outcomes(
                store,
                joined.filter(F.col("download_success").isNotNull()).select(
                    F.col("document_url").alias("url"),
                    F.col("download_success").alias("success"),
                    F.when(F.col("download_success"), F.lit(None).cast("string"))
                    .otherwise(F.lit("download failed")).alias("error"),
                ),
            )
        with tracer.span("sources.sinks.csv_write"):
            sinks.write_bronze_csv(joined, f"{out}/metadata/{pt}")
        with tracer.span("operators.state"):
            store.update_page_progress(pt, total, n)
            store.complete_session(pt)
        return _part_files(out)

    def _traced_delta(self, spark, tracer, out, counts) -> None:
        """``cli._cmd_delta``'s steps. Its left-anti join against the
        existing CSV is inline in the CLI (it does not call
        ``operators.incremental``); the anti-join span times that join."""
        from pyspark.sql import functions as F

        from insurance_helper_spark.sources import sinks

        csv_dir = f"{out}/metadata/{PRODUCT_TYPE}"
        _, products = self._fetch(spark, tracer, 1, counts)
        products = products.localCheckpoint(eager=True)
        with tracer.span("operators.incremental.anti_join"):
            existing = sinks.read_bronze_csv(spark, csv_dir).select(F.col("document_url").alias("url")).distinct()
            new = products.join(existing, products.document_url == existing.url, "left_anti").localCheckpoint(eager=True)
            n_new = new.count()
        if not n_new:
            return
        new = self._download(tracer, new, None, out, counts)
        with tracer.span("sources.sinks.csv_write"):
            header = sinks.read_bronze_csv(spark, csv_dir).columns
            aligned = new.select(*[
                F.col(c) if c in new.columns else F.lit(None).cast("string").alias(c) for c in header
            ])
            sinks.write_bronze_csv(aligned, csv_dir, mode="append", stamp_scraped_at=False)

    def _traced_near_dedup(self, spark, tracer, stage_out) -> int:
        from insurance_helper_spark.operators import dedup

        corpus = spark.read.parquet(f"{stage_out}/corpus").select("doc_id", "text")
        with tracer.span("operators.dedup.minhash_lsh"):
            cand = dedup.minhash_lsh_candidates(corpus, "doc_id", "text").localCheckpoint(eager=True)
            n_cand = cand.count()
        with tracer.span("operators.dedup.components"):
            comps = dedup.connected_components(cand).localCheckpoint(eager=True)
        with tracer.span("operators.dedup.keep_canonical"):
            dedup.keep_canonical_per_cluster(corpus, comps, "doc_id").write.mode(
                "overwrite"
            ).parquet(f"{stage_out}/deduped")
        return n_cand

    def _traced_replay(self, spark, tracer) -> None:
        """The parse path over a stored page snapshot: no network."""
        from insurance_helper_spark.sources import http

        pt = PRODUCT_TYPE
        snapshot = [
            (p, gen.render_page(self.site, self.base, pt, 2, p, URL_PATHS[pt]))
            for p in range(1, -(-len(self.site.rows(pt, 2)) // gen.PAGE_SIZE) + 1)
        ]
        with tracer.span("sources.http.parse_pages"):
            http.parse_pages(spark.createDataFrame(snapshot, "page long, html string")).count()
