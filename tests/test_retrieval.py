"""Value parity of ``operators.retrieval.hybrid_rrf_retrieve`` with the
plain-Python BM25 + cosine + RRF ranking in ``perfbench/oracle.py``:
same rounding (bm4 / cos6 / rrf_score), same doc_id tie-breaks, same
snippets, row for row."""

from __future__ import annotations

import pytest

from insurance_helper_spark.operators.retrieval import hybrid_rrf_retrieve
from perfbench.oracle import Retrieval
from tests.conftest import SF_DIR_ORACLE


@pytest.fixture(scope="module")
def ranking() -> Retrieval:
    return Retrieval(SF_DIR_ORACLE)


@pytest.mark.parametrize(
    "request_",
    [
        {"query": "window merge scan", "topn": 5},
        {"query": "customer filter stream", "topn": 10},
        {"doc_id": 3, "topn": 10},
        {"doc_id": 42},
        # topn beyond the fused set (<= 2 x 20 rows): every fused row comes back
        {"query": "customer filter stream", "topn": 50},
        {"doc_id": 7, "topn": 50},
    ],
    ids=repr,
)
def test_matches_plain_python_ranking(spark, ranking, request_):
    got = [tuple(r) for r in hybrid_rrf_retrieve(spark, SF_DIR_ORACLE, **request_).collect()]
    assert got == ranking.answer(**request_)
    topn = request_.get("topn", 10)
    assert 0 < len(got) <= topn
    if topn == 50:
        assert len(got) < topn
