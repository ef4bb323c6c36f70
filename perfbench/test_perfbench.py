"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

import gen
from common import REPO, high_percentile

sys.path.insert(0, REPO)


# -- generators are deterministic per seed ---------------------------------------


def test_site_is_deterministic_per_seed():
    a, b, c = gen.make_site(7, 0.05), gen.make_site(7, 0.05), gen.make_site(8, 0.05)
    assert a.documents == b.documents
    assert a.documents != c.documents
    for pt in gen.PRODUCT_TYPES:
        html = [gen.render_page(s, "http://h", pt, 2, 1, "/p") for s in (a, b, c)]
        assert html[0] == html[1]
        assert html[0] != html[2]


def test_corpus_is_deterministic_per_seed():
    a, b, c = gen.make_corpus(3, 200), gen.make_corpus(3, 200), gen.make_corpus(4, 200)
    assert a.pdfs == b.pdfs and a.family == b.family and a.kind == b.kind
    assert a.pdfs != c.pdfs


# -- ground truth ------------------------------------------------------------------


def test_corpus_ground_truth_counts():
    corpus = gen.make_corpus(11, 1000)
    kinds = [corpus.kind[d] for d in range(1000)]
    assert kinds.count("exact") == 50 and kinds.count("near") == 80
    assert sum(k.startswith("gate") for k in kinds) == 60
    for d in range(1000):
        assert gen.passes_gates(corpus.text(d)) == (not corpus.kind[d].startswith("gate")), d
    assert all(0.8 <= j <= 0.95 for j in corpus.near_jaccard.values())
    for d, k in corpus.kind.items():
        if k == "exact":
            assert corpus.words[d] == corpus.words[corpus.family[d]]


def test_known_extraction_failures_are_exactly_the_eol_bodies():
    from insurance_helper_spark.sources.pdf_text import extract_pdf_text

    corpus = gen.make_corpus(12, 600)
    eol = {d for d, pdf in corpus.pdfs.items() if gen.flate_body_ends_in_eol(pdf)}
    failed = set()
    for d, pdf in corpus.pdfs.items():
        try:
            text, pages = extract_pdf_text(pdf)
        except ValueError:
            failed.add(d)
            continue
        assert text.split() == corpus.words[d] and pages == 1
    assert eol and failed == eol


def test_site_ground_truth_matches_the_parser():
    from insurance_helper_spark.schemas import MIN_CELLS
    from insurance_helper_spark.sources import html_parse

    site = gen.make_site(13, 0.05)
    base = "http://127.0.0.1:1"
    for pt in gen.PRODUCT_TYPES:
        want = gen.expected_products(site, base, pt, 2)
        rows = site.rows(pt, 2)
        assert len(want) == sum(r.valid for r in rows)
        assert sum(r.new for r in rows) >= 1 and not any(r.new and not r.valid for r in rows)
        parsed = []
        for page in range(1, -(-len(rows) // gen.PAGE_SIZE) + 1):
            html = gen.render_page(site, base, pt, 2, page, "/p")
            parsed += html_parse.parse_listing_page(html, page)
            probe = html_parse.parse_html(html)
            assert html_parse.total_results(probe) == len(rows)
        full = {r["link_url"] for r in parsed if len(r["cells"]) >= MIN_CELLS[pt]}
        assert set(want) <= full


# -- statistics --------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, percentile",
    [(5, None), (19, None), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_high_percentile_keeps_ten_samples_beyond(n, percentile):
    samples = [float(i) for i in range(n)]
    got = high_percentile(samples)
    assert got["percentile"] == percentile and got["samples"] == n
    if percentile is not None:
        assert sum(s > got["value_s"] for s in samples) >= 10


def test_recall_precision_on_a_tiny_planted_corpus():
    # families: 0 <- {1, 2}; 3 <- {4}; 5 alone; 6 alone
    family = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6}
    corpus = gen.Corpus({}, {}, family, {})
    present = set(family)
    # perfect: one member of each family kept
    assert gen.recall_precision(corpus, present, {0, 3, 5, 6}) == (1.0, 1.0, 3, 3)
    # misses 2, wrongly removes 6
    assert gen.recall_precision(corpus, present, {0, 2, 3, 5}) == (2 / 3, 2 / 3, 3, 3)
    # removing a whole family counts only members - 1 as correct
    assert gen.recall_precision(corpus, present, {0, 5, 6}) == (1.0, 3 / 4, 3, 4)
    # a family whose original is absent still counts its remaining copies
    assert gen.recall_precision(corpus, present - {0}, {1, 3, 5, 6}) == (1.0, 1.0, 2, 2)


# -- BENCHMARK.json agrees with the harness ----------------------------------------------


def test_benchmark_json_lists_what_the_runs_print():
    import run

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
