"""Parameterized hybrid retrieval — the user-facing twin of the
catalog's ``retrieval_hybrid_rrf_topk`` (whose query documents are
pinned for the DuckDB oracle). This module serves an ARBITRARY query:

- ``query text``  — lexical BM25 leg over the query's terms; the
  vector leg uses Rocchio-style pseudo-relevance feedback (the mean
  embedding of the top-3 lexical hits) since the container ships no
  text encoder. Both leg ranks are reported, so a caller with a real
  encoder can verify the fusion is encoder-agnostic.
- ``--doc-id``    — query-by-example: the document's own tokens feed
  the lexical leg and its own embedding feeds the vector leg (exactly
  the catalog query's shape, for one ad-hoc document).

Fusion: Reciprocal Rank Fusion, score = sum 1/(60+rank) over legs
(Cormack et al.), fused top-n returned with both leg ranks (0 = not in
that leg's top-20).

Scale stance: the corpus side is staged ONCE per session per
``sf_dir`` as a retrieval index (``queries.shared_cache.memo_checkpoint``,
session-temp parquet), over the documents that have embeddings:
posting rows (term, doc_id, tf, bm25) with stopwords dropped and the
query-independent BM25 term weight precomputed (so document count and
average length are computed once, at build time); the embeddings as
``array<double>``; and the 80-char snippet per document. A request
then runs only small jobs against the index: a filter of the postings
on its <=8 query terms and the BM25 top-20; a cosine scan of the
staged embeddings against the query vector, passed as a literal, and
the cosine top-20; the RRF fusion of the two <=20-row legs in
Python; and a broadcast join of the <=``topn`` fused rows to the
staged snippets. Each leg is cut by ``orderBy().limit()``, which Spark
plans as TakeOrderedAndProject (per-partition top-k, one merge task),
never a global sort. Nothing corpus-sized is collected: <=20 rows per
leg, one document's terms, <=3 feedback vectors. Like the other
``shared_cache`` relations, the index is valid while the source tables
are unchanged within a session; a new session rebuilds it.

Reference parity: Stage-3 "semantic search / RAG querying"
(/root/reference/README.md:103-137) exposed at the reference's only
user surface, the CLI (/root/reference/src/irdai_scraper/cli.py).
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from insurance_helper_spark.functions import text as T
from insurance_helper_spark.operators.similarity import cosine
from insurance_helper_spark.queries.shared_cache import memo_checkpoint
from insurance_helper_spark.sources.tables import load_table

RRF_K = 60
MAX_QUERY_TERMS = 8
LEG_DEPTH = 20
FEEDBACK_DOCS = 3  # Rocchio pseudo-relevance depth for free-text queries


class RetrievalIndex(NamedTuple):
    postings: DataFrame  # term, doc_id, tf, bm25 (term weight x 1e9, long)
    vectors: DataFrame  # doc_id, seq, vv
    snippets: DataFrame  # doc_id, snippet


def retrieval_index(spark: SparkSession, sf_dir: str) -> RetrievalIndex:
    """The staged retrieval index for ``sf_dir``: built on the first
    call in a session, read back from session-temp parquet after."""

    def embedded_docs() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        ids = load_table(spark, sf_dir, "embeddings", columns=["vec_id"])
        return docs.join(ids.select(F.col("vec_id").alias("doc_id")), "doc_id")

    def build_postings() -> DataFrame:
        corpus = embedded_docs().select("doc_id", T.tokens(F.col("text")).alias("toks"))
        totals = corpus.agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.sum(F.size("toks")).cast("double") / F.count("*")).alias("avgdl"),
        )
        tf = (
            corpus.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
            .filter(~F.col("term").isin(*T.EN_STOPWORDS))
            .groupBy("term", "doc_id", "dl")
            .agg(F.count("*").cast("long").alias("tf"))
            .withColumn("df", F.count("*").over(W.partitionBy("term")).cast("long"))
        )
        k1, b = 1.2, 0.75
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        return tf.crossJoin(F.broadcast(totals)).select(
            "term",
            "doc_id",
            "tf",
            F.round(idf * F.col("tf") * (k1 + 1) / denom * 1e9).cast("long").alias("bm25"),
        )

    def build_vectors() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
        # seq keeps the table's scan order: the Rocchio centroid sums its
        # feedback vectors in that order, so the doubles stay exact.
        return emb.select(
            F.col("vec_id").alias("doc_id"),
            F.monotonically_increasing_id().alias("seq"),
            F.col("embedding").cast("array<double>").alias("vv"),
        )

    def build_snippets() -> DataFrame:
        return embedded_docs().select(
            "doc_id",
            F.substring(F.regexp_replace("text", r"\s+", " "), 1, 80).alias("snippet"),
        )

    return RetrievalIndex(
        memo_checkpoint(spark, ("retrieval_postings", sf_dir), build_postings),
        memo_checkpoint(spark, ("retrieval_vectors", sf_dir), build_vectors),
        memo_checkpoint(spark, ("retrieval_snippets", sf_dir), build_snippets),
    )


def _query_terms_from_text(query: str) -> list[str]:
    toks = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]
    out: list[str] = []
    for t in toks:
        if t in T.EN_STOPWORDS or t in out:
            continue
        out.append(t)
    return out[:MAX_QUERY_TERMS]


def hybrid_rrf_retrieve(
    spark: SparkSession,
    sf_dir: str,
    query: str | None = None,
    doc_id: int | None = None,
    topn: int = 10,
) -> DataFrame:
    """Fused top-``topn`` (doc_id, rrf_score, lex_rank, vec_rank,
    snippet) for a free-text query or a query-by-example doc_id.
    Exactly one of ``query`` / ``doc_id`` must be given."""
    if (query is None) == (doc_id is None):
        raise ValueError("pass exactly one of query= or doc_id=")
    index = retrieval_index(spark, sf_dir)

    if doc_id is not None:
        qterm_rows = (
            index.postings.where(F.col("doc_id") == doc_id)
            .orderBy(F.desc("tf"), "term")
            .limit(MAX_QUERY_TERMS)
            .select("term")
            .collect()
        )
        terms = [r["term"] for r in qterm_rows]
        if not terms:
            raise ValueError(f"doc_id {doc_id} not found or has no indexable terms")
    else:
        terms = _query_terms_from_text(query or "")
        if not terms:
            raise ValueError("query has no indexable terms after tokenization")

    postings = index.postings.where(F.col("term").isin(*terms))
    vectors = index.vectors
    if doc_id is not None:
        postings = postings.where(F.col("doc_id") != doc_id)
        vectors = vectors.where(F.col("doc_id") != doc_id)
    lex_rows = (
        postings.groupBy("doc_id")
        .agg(F.round(F.sum("bm25").cast("double") / 1e9, 4).alias("bm4"))
        .orderBy(F.desc("bm4"), "doc_id")
        .limit(LEG_DEPTH)
        .collect()
    )
    lex_rank = {r["doc_id"]: i + 1 for i, r in enumerate(lex_rows)}

    if doc_id is not None:
        qv_rows = index.vectors.where(F.col("doc_id") == doc_id).select("vv").collect()
        qv = qv_rows[0]["vv"] if qv_rows else None
    else:
        # Rocchio pseudo-relevance: centroid of the top feedback docs
        fb = [r["doc_id"] for r in lex_rows[:FEEDBACK_DOCS]]
        vecs = (
            index.vectors.where(F.col("doc_id").isin(fb)).select("seq", "vv").collect()
            if fb else []
        )
        vecs = [r["vv"] for r in sorted(vecs, key=lambda r: r["seq"])]
        if vecs:
            qv = [sum(v[i] for v in vecs) / len(vecs) for i in range(len(vecs[0]))]
        else:
            qv = None

    vec_rank: dict[int, int] = {}
    if qv is not None:
        vec_rows = (
            vectors.select("doc_id", F.round(cosine(F.lit(qv), F.col("vv")), 6).alias("cos6"))
            .orderBy(F.desc("cos6"), "doc_id")
            .limit(LEG_DEPTH)
            .collect()
        )
        vec_rank = {r["doc_id"]: i + 1 for i, r in enumerate(vec_rows)}

    def rrf(d: int) -> float:
        # 1/(60+lex) + 1/(60+vec) in that order, an absent leg adding
        # 0.0: the doubles the catalog twin's fusion produces
        lex = 1.0 / (RRF_K + lex_rank[d]) if d in lex_rank else 0.0
        vec = 1.0 / (RRF_K + vec_rank[d]) if d in vec_rank else 0.0
        return lex + vec

    fused = sorted(set(lex_rank) | set(vec_rank), key=lambda d: (-rrf(d), d))[: max(topn, 0)]
    top = spark.createDataFrame(
        [(i + 1, d, rrf(d), lex_rank.get(d, 0), vec_rank.get(d, 0)) for i, d in enumerate(fused)],
        "rank int, doc_id bigint, rrf_score double, lex_rank bigint, vec_rank bigint",
    )
    return (
        F.broadcast(top)
        .join(index.snippets.where(F.col("doc_id").isin(fused)), "doc_id")
        .select(
            "rank",
            "doc_id",
            F.round("rrf_score", 6).alias("rrf_score"),
            "lex_rank",
            "vec_rank",
            "snippet",
        )
        .orderBy("rank")
        .limit(len(fused))  # TakeOrderedAndProject: no range-partitioning sort
    )
