"""Plan-shape regression tests: the scale properties the engine claims
(broadcast dims, scan pruning/pushdown, single-regex tokenization,
top-k without global sort) asserted against the executed plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from insurance_helper_spark.plans import audit
from insurance_helper_spark.queries import catalog


def _q(name, spark, sf_dir):
    catalog.load_all()
    return catalog.QUERIES[name](spark, sf_dir)


def test_repetition_gate_survives_predicate_pushdown(spark, sf_dir):
    # r14 stream-probe regression: predicate pushdown substitutes
    # aliased expressions into filter conditions textually, so a
    # tokenizer referenced from inside an HOF lambda re-executes PER
    # ELEMENT once the gate lands in a Filter (13 regexp copies in the
    # old corpus_ingest plan; 9.45× wall at 10× rows). bind_once's
    # lambda-variable let-binding is opaque to pushdown — pin exactly
    # one tokenizer in the optimized plan UNDER a filter consumer.
    from insurance_helper_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gated = docs.filter(corpus.repetition_gate_col(F.col("text"), 5, 0.6))
    # optimized (logical) plan: the level the inlining happens at. The
    # executed-plan STRING prints the predicate twice (Filter node +
    # the scan's DataFilters echo) without executing it twice.
    assert audit.optimized_plan(gated).count("regexp_replace") == 1


def test_flagship_broadcasts_the_dim(spark, sf_dir):
    df = _q("flagship", spark, sf_dir)
    assert audit.has_broadcast_join(df)


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    df = _q("q1_pricing_summary", spark, sf_dir)
    cols = audit.read_schema_columns(df)
    # 7 needed lineitem columns, not all 11
    assert 0 < len(cols) <= 7, cols
    assert "l_shipdate" in audit.pushed_filters(df)


def test_shingle_path_runs_tokenizer_once(spark, sf_dir):
    # The HOF-inlining regression (operators/dedup.py::hashed_shingle_rows
    # docstring): exactly ONE regexp_replace may appear in the plan.
    from insurance_helper_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.hashed_shingle_rows(docs, "doc_id", "text", k=3)
    assert audit.count_in_plan(sh, "regexp_replace") == 1


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    df = _q("q3_shipping_priority", spark, sf_dir)
    assert "TakeOrderedAndProject" in audit.executed_plan(df)


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    df = _q("q1_pricing_summary", spark, sf_dir)
    # map-side partial aggregation present…
    assert "partial_sum" in audit.executed_plan(df)
    # …and the executed plan runs inside whole-stage codegen stages.
    assert audit.codegen_stage_count(df) >= 1


def test_semi_join_is_not_inner(spark, sf_dir):
    df = _q("semi_join_active_customers", spark, sf_dir)
    assert "LeftSemi" in audit.executed_plan(df)


def test_single_shuffle_for_colocated_agg_after_repartition(spark, sf_dir):
    # repartition(key) then groupBy(key) must not add a second exchange
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(8, "l_orderkey")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    assert audit.exchange_count(agg) == 1


def test_observation_metrics_single_pass(spark, sf_dir, tmp_path):
    from insurance_helper_spark.plans.metrics import with_observation

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df, obs = with_observation(
        orders,
        "ingest",
        rows=F.count(F.lit(1)),
        revenue=F.round(F.sum("o_totalprice"), 2),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    stats = obs.get
    assert stats["rows"] == orders.count()
    assert stats["revenue"] > 0


def test_q7_broadcasts_all_dims(spark, sf_dir):
    # snowflake: supplier + both nation lookups must broadcast — the
    # only shuffle joins should be the two fact-side equi-joins.
    df = _q("q7_volume_shipping", spark, sf_dir)
    plan = audit.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q6_filters_reach_the_scan(spark, sf_dir):
    df = _q("q6_revenue_forecast", spark, sf_dir)
    pf = audit.pushed_filters(df)
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf, pf
    cols = audit.read_schema_columns(df)
    assert 0 < len(cols) <= 4, cols


def test_q19_part_side_broadcasts(spark, sf_dir):
    df = _q("q19_disjunctive_predicates", spark, sf_dir)
    assert audit.has_broadcast_join(df)


def test_chunk_documents_no_token_level_shuffle(spark, sf_dir):
    # chunking is per-row (sequence→explode→slice): no exchange before
    # the final presentation sort, and one tokenizer regex in the plan.
    df = _q("chunk_documents", spark, sf_dir)
    plan = audit.executed_plan(df)
    n_ex = audit.exchange_count(df)
    # exactly the sort's range exchange — nothing from the chunk build
    assert n_ex <= 1, plan


def test_sessionize_single_shuffle_for_both_windows(spark, sf_dir):
    # lag-window, running-sum window and the final groupBy all key on
    # user_id: one exchange must feed all three.
    df = _q("sessionize_events_batch", spark, sf_dir)
    # allow the presentation sort's range exchange on top
    assert audit.exchange_count(df) <= 2, audit.executed_plan(df)


def test_pivot_aggregates_with_map_side_partials(spark, sf_dir):
    df = _q("pivot_status_by_priority", spark, sf_dir)
    plan = audit.executed_plan(df)
    # Spark plans listed-values pivot as two-phase aggregation:
    # groupBy(key, pivot_col) pre-reduce, then pivotfirst on the key.
    # Both exchanges carry ≤ |keys|×|values| rows after the map-side
    # partials (asserted below) — fine at any input scale. Plus the
    # presentation sort: 3 exchanges, none proportional to input size.
    assert "partial_pivotfirst" in plan and "partial_count" in plan, plan
    assert audit.exchange_count(df) <= 3, plan


def test_bm25_broadcasts_stats_and_take_ordered(spark, sf_dir):
    df = _q("text_bm25_topk", spark, sf_dir)
    plan = audit.executed_plan(df)
    # term-stats and totals ride broadcast joins; top-20 never global-sorts
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_quality_filter_is_shuffle_free(spark, sf_dir):
    df = _q("corpus_quality_filter", spark, sf_dir)
    plan = audit.executed_plan(df)
    # one range-partitioning exchange for the final orderBy, nothing else
    assert plan.count("Exchange hashpartitioning") == 0


def test_simhash_signature_computed_once(spark, sf_dir):
    # The self-join lineage-clone regression: with materialize=True the
    # packed bit-count aggregation must appear in NO live plan subtree
    # (both sides scan the checkpointed RDD instead).
    from insurance_helper_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8)
    plan = audit.executed_plan(pairs)
    assert "Scan ExistingRDD" in plan
    assert audit.count_in_plan(pairs, "partial_sum") == 0


class TestCorpusPrepPlanShapes:
    """Round-4 operators: the scale properties their docstrings claim,
    pinned against the executed plan."""

    def test_contamination_tokenizer_not_reinlined(self, spark, sf_dir):
        # One regexp_replace per scan side (corpus + benchmark) — the
        # HOF re-inlining pitfall would multiply it per shingle window
        # (measured 6× slower at sf0.1).
        df = _q("corpus_contamination", spark, sf_dir)
        assert audit.count_in_plan(df, "regexp_replace") <= 2

    def test_span_dedup_tokenizer_once_and_bounded_shuffles(self, spark, sf_dir):
        df = _q("corpus_span_dedup", spark, sf_dir)
        assert audit.count_in_plan(df, "regexp_replace") == 1
        # span window + per-doc reassembly + final sort; anything more
        # means a redundant exchange crept in.
        assert audit.exchange_count(df) <= 3

    def test_repetition_gates_shuffle_free_body(self, spark, sf_dir):
        # Pure per-row arithmetic: the ONLY exchange allowed is the
        # final orderBy's range partitioning.
        df = _q("text_repetition_gates", spark, sf_dir)
        assert audit.exchange_count(df) <= 1
        assert audit.count_in_plan(df, "regexp_replace") == 1

    def test_pack_sequences_single_group_shuffle(self, spark, sf_dir):
        df = _q("corpus_pack_sequences", spark, sf_dir)
        # one hash exchange into applyInPandas groups + final sort
        assert audit.exchange_count(df) <= 2
        assert "FlatMapGroupsInPandas" in audit.executed_plan(df)

    def test_centroid_stats_broadcasts_centroids(self, spark, sf_dir):
        df = _q("embedding_centroid_stats", spark, sf_dir)
        assert audit.has_broadcast_join(df)


def test_spearman_windows_ride_reduced_relations(spark, sf_dir):
    # r7 ADVICE: no rank window may sort the per-row fact table — every
    # Window's sort input must be an aggregated/collapsed relation.
    # r15: both marginals compute their doubled ranks directly on the
    # CHECKPOINTED value-collapsed triple relation with (flag, bucket)-
    # partitioned range-frame windows — each contributes a tiny
    # bucket-prefix walk plus one bucketed value window: four windows
    # total, none of which sorts a raw FileScan (the triple relation is
    # the one-shuffle collapse of the fact table, reached via the
    # checkpoint scan).
    df = _q("stat_spearman_corr", spark, sf_dir)
    lines = audit.executed_plan(df).splitlines()
    window_idxs = [i for i, ln in enumerate(lines) if "Window [" in ln]
    assert len(window_idxs) == 4, f"expected 4 two-phase windows: {window_idxs}"
    for i in window_idxs:
        for ln in lines[i + 1 :]:
            if "HashAggregate" in ln or "ExistingRDD" in ln or "LocalTableScan" in ln:
                break  # window input is a reduced (aggregated/checkpointed) relation
            assert "FileScan" not in ln, (
                "Window sorts the raw scan — reduced-relation guarantee broken"
            )
    # the final plan reads the checkpointed triple relation — lineitem
    # is scanned only inside the checkpoint build, never re-scanned here
    assert audit.executed_plan(df).count("FileScan") == 0


class TestRetrievePlans:
    """hybrid_rrf_retrieve (the CLI retrieval core) must keep the
    catalog twin's plan hygiene: Arrow/JVM-only (no row-wise Python),
    no cartesian blowup, query terms broadcast into the posting build."""

    def test_free_text_plan_clean_and_broadcasts_terms(self, spark, sf_dir):
        from insurance_helper_spark.operators.retrieval import hybrid_rrf_retrieve
        from insurance_helper_spark.plans import audit

        df = hybrid_rrf_retrieve(spark, sf_dir, query="window merge scan", topn=5)
        plan = audit.executed_plan(df)
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_query_by_example_plan_clean(self, spark, sf_dir):
        from insurance_helper_spark.operators.retrieval import hybrid_rrf_retrieve
        from insurance_helper_spark.plans import audit

        df = hybrid_rrf_retrieve(spark, sf_dir, doc_id=3, topn=5)
        plan = audit.executed_plan(df)
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_warm_request_reads_the_staged_index(self, spark, sf_dir, tmp_path, monkeypatch):
        """The corpus side is built once per session per sf_dir: a second
        request over the same tables runs no index build, and its plan
        keeps the hygiene above (a fresh copy of the tables gives a
        key no earlier test has built)."""
        import shutil

        from insurance_helper_spark.operators import retrieval
        from insurance_helper_spark.plans import audit

        for table in ("documents", "embeddings"):
            shutil.copy(f"{sf_dir}/{table}.parquet", tmp_path / f"{table}.parquet")
        builds = []
        memo = retrieval.memo_checkpoint

        def counting_memo(spark, key, build):
            def counted():
                builds.append(key[0])
                return build()

            return memo(spark, key, counted)

        monkeypatch.setattr(retrieval, "memo_checkpoint", counting_memo)
        cold = retrieval.hybrid_rrf_retrieve(spark, str(tmp_path), doc_id=3, topn=5)
        assert sorted(builds) == ["retrieval_postings", "retrieval_snippets", "retrieval_vectors"]
        warm = retrieval.hybrid_rrf_retrieve(spark, str(tmp_path), query="window merge scan", topn=5)
        assert len(builds) == 3
        assert cold.count() == warm.count() == 5
        plan = audit.executed_plan(warm)
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
