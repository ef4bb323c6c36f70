"""Stage 2 over the downloaded documents: PDF text extraction, the
``curate`` command (quality gates, exact fingerprint dedup, split,
partitioned parquet), then MinHash-LSH near-duplicate removal — and the
checks of all three against the planted corpus.

PDFs whose Flate body ends in CR/LF fail extraction (a known extractor
defect); they are counted as failed operations, never avoided.
"""

from __future__ import annotations

import re

import gen

# Listing uids look like "no00012a3f1"; the download path carries the
# UIN "NO00012A3F1V01", whose five digits are the corpus doc id.
DOC_ID_PATTERN = r"/[A-Z]{2}(\d{5})[0-9A-F]{4}V01_[^/]*\.pdf$"


def extract(spark, pdf_dir: str, out: str) -> None:
    from pyspark.sql import functions as F

    from insurance_helper_spark.sources import binary

    texts = binary.pdf_text_extract(binary.read_binary_dir(spark, pdf_dir, glob="*.pdf"))
    texts.select(
        F.regexp_extract("path", DOC_ID_PATTERN, 1).cast("long").alias("doc_id"),
        "text", "n_pages", "extract_error",
    ).write.mode("overwrite").parquet(f"{out}/sf/documents.parquet")


def curate_cmd(spark, out: str) -> list[str]:
    from insurance_helper_spark import cli

    lines: list[str] = []
    rc = cli.main(["curate", "--sf-dir", f"{out}/sf", "--output", f"{out}/corpus"],
                  spark=spark, out=lines.append)
    if rc != 0:
        raise RuntimeError(f"curate failed: {lines[-3:]}")
    return lines


def near_dedup(spark, out: str):
    """Candidates -> components -> canonical rows -> parquet."""
    from insurance_helper_spark.operators import dedup

    corpus = spark.read.parquet(f"{out}/corpus").select("doc_id", "text")
    cand = dedup.minhash_lsh_candidates(corpus, "doc_id", "text")
    comps = dedup.connected_components(cand)
    dedup.keep_canonical_per_cluster(corpus, comps, "doc_id").write.mode(
        "overwrite"
    ).parquet(f"{out}/deduped")


class Stage2Check:
    """Checks one Stage-2 run against the corpus behind the downloads."""

    def __init__(self, corpus: gen.Corpus, fail) -> None:
        self.corpus = corpus
        self.fail = fail

    def __call__(self, out: str, lines: list[str], expected_ids: set[int]) -> dict:
        import pyarrow.parquet as pq

        corpus = self.corpus
        docs = pq.read_table(f"{out}/sf/documents.parquet").to_pylist()
        decoded: set[int] = set()
        known = unexpected = 0
        for row in docs:
            d = row["doc_id"]
            if row["extract_error"] is not None:
                if gen.flate_body_ends_in_eol(corpus.pdfs[d]):
                    known += 1
                else:
                    unexpected += 1
                    self.fail(f"doc {d}: unexpected extraction failure {row['extract_error']}")
                continue
            decoded.add(d)
            if row["text"].split() != corpus.words[d]:
                self.fail(f"doc {d}: extracted text differs from the source")
        if sorted(r["doc_id"] for r in docs) != sorted(expected_ids):
            self.fail(f"extracted {len(docs)} documents, want {len(expected_ids)}")
        gated = {d for d in decoded if gen.passes_gates(corpus.text(d))}
        unique = len({" ".join(corpus.words[d]) for d in gated})
        counts = {m.group(1): int(m.group(2)) for m in
                  (re.match(r"([\w-]+): (\d+)", ln) for ln in lines) if m}
        if counts.get("quality-gated") != len(gated):
            self.fail(f"quality-gated {counts.get('quality-gated')}, want {len(gated)}")
        if counts.get("exact-unique") != unique:
            self.fail(f"exact-unique {counts.get('exact-unique')}, want {unique}")
        kept = set(pq.read_table(f"{out}/deduped", columns=["doc_id"]).column("doc_id").to_pylist())
        recall, precision, planted, removed = gen.recall_precision(corpus, gated, kept)
        unique_ids = set(pq.read_table(f"{out}/corpus", columns=["doc_id"]).column("doc_id").to_pylist())
        return {
            "documents": len(docs), "recall": recall, "precision": precision,
            "planted_duplicates": planted, "removed": removed,
            "planted_near_pairs": sum(gen.dedup_truth(corpus, unique_ids).values()),
            "extract_failures_known_defect": known, "extract_failures_unexpected": unexpected,
            "decoded": len(decoded), "gated": len(gated), "exact_unique": unique, "kept": len(kept),
        }
