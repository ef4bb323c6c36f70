"""Reference answers for the ``serve`` retrieval requests, computed
without Spark: a plain-Python evaluation of the hybrid BM25 + cosine RRF
ranking ``operators.retrieval.hybrid_rrf_retrieve`` documents (same
tokenizer, rounding, tie-breaks and leg depths). Catalog answers come
from ``tests/oracle_harness.py``.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

# ---------------------------------------------------------------------------
# retrieval
# ---------------------------------------------------------------------------

RRF_K, LEG_DEPTH, MAX_TERMS, FEEDBACK = 60, 20, 8, 3
STOPWORDS = frozenset((
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "was", "at", "by", "be", "this", "that",
))


def _round(x: float, digits: int) -> float:
    """Spark's ``round``: HALF_UP on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def tokens(text: str) -> list[str]:
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).split()


class Retrieval:
    """Answers ``hybrid_rrf_retrieve(query=...)`` / ``(doc_id=...)``."""

    def __init__(self, sf_dir: str) -> None:
        import pyarrow.parquet as pq

        docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]).to_pylist()
        emb = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]).to_pylist()
        self.text = {r["doc_id"]: r["text"] for r in docs}
        self.vec = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb}
        self.emb_order = [r["vec_id"] for r in emb]
        self.toks = {d: tokens(t) for d, t in self.text.items() if d in self.vec}
        self.n_docs = len(self.toks)
        self.avgdl = sum(len(t) for t in self.toks.values()) / self.n_docs
        self.norm = {d: math.sqrt(_acc(v[i] * v[i] for i in range(len(v)))) for d, v in self.vec.items()}

    def query_terms(self, query: str | None, doc_id: int | None) -> list[str]:
        if doc_id is not None:
            counts: dict[str, int] = {}
            for t in self.toks.get(doc_id, ()):
                if t not in STOPWORDS:
                    counts[t] = counts.get(t, 0) + 1
            return [t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))][:MAX_TERMS]
        out: list[str] = []
        for t in re.split(r"[^a-z0-9]+", query.lower()):
            if t and t not in STOPWORDS and t not in out:
                out.append(t)
        return out[:MAX_TERMS]

    def answer(self, query: str | None = None, doc_id: int | None = None, topn: int = 10) -> list[tuple]:
        k1, b = 1.2, 0.75
        terms = self.query_terms(query, doc_id)
        tf = {d: {t: toks.count(t) for t in terms if t in toks} for d, toks in self.toks.items()}
        tf = {d: m for d, m in tf.items() if m}
        df = {t: sum(t in m for m in tf.values()) for t in terms}
        scores = {}
        for d, m in tf.items():
            if d == doc_id:
                continue
            dl = len(self.toks[d])
            total = 0
            for t, n in m.items():
                idf = math.log(1.0 + (self.n_docs - df[t] + 0.5) / (df[t] + 0.5))
                denom = n + k1 * (1 - b + b * dl / self.avgdl)
                total += int(_round(idf * n * (k1 + 1) / denom * 1e9, 0))
            scores[d] = _round(total / 1e9, 4)
        lex = [d for d, _ in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))][:LEG_DEPTH]
        lex_rank = {d: i + 1 for i, d in enumerate(lex)}
        if doc_id is not None:
            qv = self.vec.get(doc_id)
        else:
            fb = set(lex[:FEEDBACK])
            vecs = [self.vec[d] for d in self.emb_order if d in fb]
            qv = [_acc(v[i] for v in vecs) / len(vecs) for i in range(len(vecs[0]))] if vecs else None
        vec_rank: dict[int, int] = {}
        if qv is not None:
            qn = math.sqrt(_acc(x * x for x in qv))
            cos = {
                d: _round(_acc(qv[i] * v[i] for i in range(len(v))) / (qn * self.norm[d]), 6)
                for d, v in self.vec.items() if d != doc_id
            }
            ranked = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:LEG_DEPTH]
            vec_rank = {d: i + 1 for i, (d, _) in enumerate(ranked)}
        fused = {}
        for d in set(lex_rank) | set(vec_rank):
            s = 0.0
            if d in lex_rank:
                s += 1.0 / (RRF_K + lex_rank[d])
            if d in vec_rank:
                s += 1.0 / (RRF_K + vec_rank[d])
            fused[d] = s
        top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:topn]
        return [
            (i + 1, d, _round(s, 6), lex_rank.get(d, 0), vec_rank.get(d, 0),
             re.sub(r"\s+", " ", self.text[d])[:80])
            for i, (d, s) in enumerate(top)
        ]


def _acc(values) -> float:
    """Left-to-right double sum from 0.0, like Spark's ``aggregate``."""
    total = 0.0
    for v in values:
        total += v
    return total
