"""Session-memoized staged relations (queries/shared_cache.py): memo
identity, the block-sweeper KEEP contract (the r10 ADVICE class), and
value identity between the staged dedup relations and the operators
they replace. Plus the adaptive SRP plane-count math (r12)."""

from __future__ import annotations

import sys
import threading
import time

from pyspark.sql import functions as F

from insurance_helper_spark.operators import dedup
from insurance_helper_spark.operators.similarity import (
    adaptive_srp_planes,
    adaptive_srp_tables,
    srp_recall,
)
from insurance_helper_spark.queries import shared_cache as SC
from insurance_helper_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(map(tuple, df.collect()))


class TestMemoContract:
    def test_same_key_returns_same_object(self, spark):
        a = SC.doc_shingles(spark, SF_DIR)
        b = SC.doc_shingles(spark, SF_DIR)
        assert a is b

    def test_staged_relations_survive_block_sweeper(self, spark):
        """Staged relations are parquet-backed (r13), NOT block-manager
        resident: a full block sweep (bench._release_blocks) must leave
        them readable and value-identical, and keep_ids must be empty —
        the sweeper no longer has to protect anything, which is what
        fixed the r12 block-pressure regression (pinned memo blocks
        taxing the Arrow/matmul queries' unified-memory budget)."""
        import bench

        pairs = SC.ngram_pair_stats(spark, SF_DIR)
        before = _rows(pairs.filter(F.col("jaccard") >= 0.5))
        bench._release_blocks(spark)
        assert SC.keep_ids(spark) == set()  # nothing pinned anymore
        # nothing the staged relations own is left in the block manager
        assert not spark.sparkContext._jsc.getPersistentRDDs()
        after = _rows(
            SC.ngram_pair_stats(spark, SF_DIR).filter(F.col("jaccard") >= 0.5)
        )
        assert after == before

    def test_staged_build_runs_once(self, spark):
        """The memo returns a reader over the staged parquet — the
        second call must not re-run build()."""
        calls = []

        def build():
            calls.append(1)
            return SC.doc_shingles(spark, SF_DIR).limit(5)

        a = SC.memo_checkpoint(spark, ("t_once", SF_DIR), build)
        b = SC.memo_checkpoint(spark, ("t_once", SF_DIR), build)
        assert a is b and calls == [1]
        assert a.count() == 5

    def test_concurrent_callers_build_once(self, spark):
        """Client threads sharing a session that miss the memo for one
        key together must not each build and overwrite the staged
        directory: build() runs once and every caller gets the same
        relation. More threads than cores, a short switch interval and
        a build held open widen the window a lost check-then-act needs."""
        n = 8
        calls = []
        results: list = [None] * n
        barrier = threading.Barrier(n)

        def build():
            calls.append(1)
            time.sleep(0.5)
            return SC.doc_shingles(spark, SF_DIR).limit(5)

        def ask(i):
            barrier.wait(timeout=60)
            results[i] = SC.memo_checkpoint(spark, ("t_concurrent", SF_DIR), build)

        old_interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=ask, args=(i,)) for i in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(old_interval)
        assert not any(t.is_alive() for t in threads)
        assert calls == [1]
        assert all(r is results[0] for r in results)
        assert results[0].count() == 5

    def test_corpus_count_memoized(self, spark):
        n1 = SC.corpus_count(spark, SF_DIR, "embeddings")
        n2 = SC.corpus_count(spark, SF_DIR, "embeddings")
        assert n1 == n2 > 0
        key = (spark.sparkContext.applicationId, SF_DIR, "embeddings")
        assert SC._COUNTS[key] == n1

    def test_staged_relations_match_operators(self, spark):
        """The r12 rewiring claim, unit-pinned: the staged shingle /
        pair / component relations are value-identical to running the
        operators directly on the documents table."""
        docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
        assert _rows(SC.doc_shingles(spark, SF_DIR)) == _rows(
            dedup.hashed_shingle_rows(docs, "doc_id", "text", k=3)
        )
        staged = SC.ngram_pair_stats(spark, SF_DIR).filter(
            F.col("jaccard") >= 0.5
        )
        direct = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        )
        assert _rows(staged) == _rows(direct)
        comp = SC.ngram_components(spark, SF_DIR)
        assert _rows(comp) == _rows(dedup.connected_components(direct))


class TestStagedScanPruning:
    def test_consumers_get_pruning_and_pushdown(self, spark):
        """The parquet staging's second dividend (beyond freeing the
        block manager): consumers read COLUMN-PRUNED, FILTER-PUSHED
        scans of the staged files — a localCheckpoint block can do
        neither. A jaccard-policy projection must reach the staged
        scan as a 3-of-6-column ReadSchema with the threshold in
        PushedFilters."""
        proj = (
            SC.ngram_pair_stats(spark, SF_DIR)
            .filter(F.col("jaccard") >= 0.5)
            .select("id_a", "id_b")
        )
        plan = proj._jdf.queryExecution().executedPlan().toString()
        scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
        assert "GreaterThanOrEqual(jaccard,0.5)" in scan
        assert "struct<id_a:bigint,id_b:bigint,jaccard:double>" in scan
        for dropped in ("common", "size_a", "size_b"):
            assert f"{dropped}:" not in scan.split("ReadSchema:")[1]


class TestPairTableDfCap:
    def test_cap_above_fixture_max_df(self, spark):
        """PAIR_STATS_MAX_DOC_FREQ must sit above the fixture's max
        shingle document frequency, so the staged table is value-
        identical to the uncapped build at every test SF (the
        invariant the 14 oracle-backed consumers rely on)."""
        max_df = (
            SC.doc_shingles(spark, SF_DIR)
            .groupBy("h").count().agg(F.max("count")).collect()[0][0]
        )
        assert max_df <= SC.PAIR_STATS_MAX_DOC_FREQ

    def test_hot_shingle_corpus_stays_bounded(self, spark):
        """On a corpus where one boilerplate shingle lands in EVERY
        document, the capped staged build must not go quadratic: the
        uncapped join yields all C(n,2) pairs from that single key;
        the capped build drops it and returns only the genuinely
        near-dup pairs."""
        n = 60
        rows = [
            # shared boilerplate ("copyright acme corp") in all docs +
            # a unique tail so uncapped Jaccard stays below any policy
            # threshold; docs 0/1 are true near-dups of each other.
            (f"d{i:03d}",
             "copyright acme corp "
             + ("alpha beta gamma delta epsilon" if i < 2
                else f"tail{i} u{i} v{i} w{i} x{i}"))
            for i in range(n)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        uncapped = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.0
        )
        capped = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.0,
            max_doc_freq=SC.PAIR_STATS_MAX_DOC_FREQ,
        )
        assert uncapped.count() == n * (n - 1) // 2  # quadratic blow-up
        capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
        assert capped_pairs == {("d000", "d001")}  # linear: true dups only


class TestAdaptivePlanes:
    def test_base_at_fixture_scales(self):
        # fixture embedding counts: 20 / 200 / 2000 — base planes hold,
        # so every recall pin and rows-only count is unchanged
        for n in (20, 200, 2000):
            assert adaptive_srp_planes(n, base_planes=4) == 4

    def test_linear_candidate_budget_beyond_base(self):
        # 2^planes >= n/target ==> per-table candidate volume <= target*n
        for n in (4_000, 20_000, 1_000_000, 10**9):
            p = adaptive_srp_planes(n, base_planes=4, target_occupancy=128)
            assert 2**p >= n / 128
            assert 2 ** (p - 1) < n / 128 or p == 4

    def test_monotone_in_n(self):
        prev = 0
        for n in (10, 10**3, 10**4, 10**5, 10**6, 10**9):
            p = adaptive_srp_planes(n, base_planes=4)
            assert p >= prev
            prev = p


class TestAdaptiveTables:
    """adaptive_srp_tables (ADVICE r12): growing planes must re-buy
    recall at the query's ACTUAL band with tables, not silently ship
    the collapse (4→8 planes at cos 0.4 drops 16-table recall from
    0.94 to 0.33)."""

    def test_base_planes_keep_base_tables(self):
        # fixture invariance: every recall/rows pin unchanged
        assert adaptive_srp_tables(4, 0.4, 4, 16) == 16
        assert adaptive_srp_tables(4, 0.33, 4, 12) == 12

    def test_recall_held_at_band_under_cap(self):
        for planes in (5, 6, 7):
            t = adaptive_srp_tables(planes, 0.4, 4, 16)
            base = srp_recall(4, 16, 0.4)
            assert srp_recall(planes, t, 0.4) >= base - 1e-9
            # and not over-bought: one table fewer would miss it
            assert srp_recall(planes, t - 1, 0.4) < base

    def test_cap_bounds_cost_low_band(self):
        # 8 planes at cos 0.4 need ~109 tables; cap at 64 degrades
        # recall gracefully instead of exploding cost
        assert adaptive_srp_tables(8, 0.4, 4, 16, max_tables=64) == 64
        assert 0.7 < srp_recall(8, 64, 0.4) < srp_recall(4, 16, 0.4)

    def test_high_band_stays_cheap(self):
        # production near-dup band cos>=0.9: holding recall is cheap
        t = adaptive_srp_tables(8, 0.9, 4, 16)
        assert t <= 64
        assert srp_recall(8, t, 0.9) >= srp_recall(4, 16, 0.9) - 1e-9

    def test_recall_formula_vs_monte_carlo(self):
        """srp_recall's closed form against a brute-force simulation:
        random unit pairs at a fixed angle, random hyperplanes, count
        pairs sharing >=1 of L b-plane buckets."""
        import numpy as np

        rng = np.random.default_rng(11)
        dim, cos_t, planes, tables, trials = 16, 0.4, 3, 6, 4000
        theta = np.arccos(cos_t)
        hits = 0
        for _ in range(trials):
            a = rng.normal(size=dim)
            a /= np.linalg.norm(a)
            r = rng.normal(size=dim)
            r -= (r @ a) * a
            r /= np.linalg.norm(r)
            b = np.cos(theta) * a + np.sin(theta) * r
            h = rng.normal(size=(tables * planes, dim))
            bits_a = (h @ a) >= 0
            bits_b = (h @ b) >= 0
            same = (bits_a == bits_b).reshape(tables, planes).all(axis=1)
            hits += bool(same.any())
        emp = hits / trials
        pred = srp_recall(planes, tables, cos_t)
        assert abs(emp - pred) < 0.03  # ~4σ for 4000 Bernoulli trials
