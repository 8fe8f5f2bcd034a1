"""Plan-quality regression tests: assert the physical plans keep the shapes
that make the engine scale — predicate pushdown, column pruning, broadcast
joins, top-k without global sort, no cartesian products in LSH pipelines.
"""

from __future__ import annotations

import re

import pytest

from kinesis_writer_spark import registry
from kinesis_writer_spark.plans import formatted_plan
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def plans(spark):
    qs = registry.all_queries()
    return {name: formatted_plan(qs[name](spark, SF_DIR)) for name in qs}


class TestPushdownAndPruning:
    def test_q01_filter_pushed_to_scan(self, plans):
        p = plans["q01_pricing_summary"]
        assert "LessThanOrEqual(l_shipdate" in p

    def test_q01_column_pruning(self, plans):
        p = plans["q01_pricing_summary"]
        read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
        assert "l_orderkey" not in read_schema  # unused columns never scanned
        assert "l_partkey" not in read_schema

    def test_q02_all_predicates_pushed(self, plans):
        p = plans["q02_filter_predicates"]
        assert "GreaterThanOrEqual(p_size,10)" in p
        assert "In(p_brand" in p
        assert "StringContains(p_type,O)" in p


class TestJoinStrategies:
    def test_q13_dims_broadcast_not_shuffled(self, plans):
        p = plans["q13_broadcast_join"]
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p

    def test_q05_nation_region_broadcast(self, plans):
        assert "BroadcastHashJoin" in plans["q05_local_supplier_volume"]

    def test_no_cartesian_products_anywhere(self, plans):
        # LSH/banding designs exist precisely to avoid cross joins; the only
        # sanctioned broadcast-NL joins are the tiny-side similarity scans
        # q84's BNL is a 1-row scalar broadcast (the target nation name)
        allowed_bnl = {
            "q60_cosine_topk",
            "q62_ivf_ann",
            "q72_lang_id",
            "q12_range_join",
            "q84_market_share",
            "q97_kmeans",  # k=4 centroid broadcast
            "q134_ivf_trained",  # same k=4 centroid broadcast as q97
            "q135_ann_recall",  # same, plus the sanctioned q60 broadcast query side
            # 1-row scalar-aggregate broadcasts (corpus N / global stats / threshold)
            "q99_tfidf",
            "q100_bm25",
            "q103_scalar_subquery",
            "q137_important_stock",  # 1-row grand-total broadcast (Q11 threshold)
            "q141_source_mixing_weights",  # 1-row normalizing-total broadcast
            "q155_try_arithmetic",  # 1-row max-orderdate broadcast
            "q159_windowed_funnel",  # 1-row stage-count broadcasts
            "q176_join_cardinality_profile",  # 1-row totals/p99 broadcasts
            "q178_model_lift",  # 1-row total-count/total-positives broadcasts
            "q194_zorder_layout",  # 1-row total-count broadcast (NTILE arithmetic)
            "q180_curation_pipeline_v2",  # 1-row normalizing-total broadcast (q141)
            "q119_gapfill_ffill",  # 1-row min/max bounds broadcast under the grid
            "q166_linear_interpolation",  # same 1-row bounds broadcast as q119
            "q123_rolling_distinct",  # 1-row day-range bounds broadcast
            "q181_rolling_distinct_hll",  # same bounds broadcast as q123
            "q183_point_in_time_lookup",  # 1-row probe-grid bounds broadcast
            "q190_session_pmi",  # 1-row session-total broadcast
            "q192_source_kl_divergence",  # 1-row corpus-total broadcast
            "q198_welch_ttest",  # 1-row grand-total moment broadcast
            "q200_token_budget_allocation",  # 1-row normalizing-total broadcast
            "q221_table_stats",  # 1-row exact-NDV gate pass broadcast
            "q224_ks_statistic",  # 1-row (na, nb) totals broadcast
            "q225_rrf_hybrid",  # 1-row query-vector broadcast (q60 pattern)
            "q226_maxsim_retrieval",  # 5-row query-vector broadcast (q60 pattern)
            "q228_bootstrap_ci",  # 1-row replica-extreme broadcasts
            "q229_optimal_threshold",  # 1-row class-totals broadcast
            "q232_mmr_selection",  # 1-row query-vector broadcast (q60 pattern)
            "q234_vector_qc",  # 1-row median/outlier/dead-dim stat broadcasts
            "q235_deletion_impact",  # per-table 1-row count broadcasts
            "q236_rate_decomposition",  # 2-row group-total broadcast
            "q237_churn_labels",  # 1-row max-day censoring broadcast
            "q240_shard_rebalance_plan",  # 1-row traffic-total broadcast
            "q245_pooled_retrieval",  # 1-row pooled-query broadcast (q60 pattern)
            "q250_delta_contribution",  # 1-row total-delta broadcast
            "q251_bpe_merges",  # 1-row best-merge broadcast per BPE round
            "q252_bpe_fertility",  # same 1-row merge broadcasts over the vocab
        }
        for name, p in plans.items():
            if "CartesianProduct" in p:
                pytest.fail(f"{name} plans a CartesianProduct")
            if "BroadcastNestedLoopJoin" in p and name not in allowed_bnl:
                pytest.fail(f"{name} plans an unexpected BroadcastNestedLoopJoin")


class TestTopK:
    def test_global_topk_avoids_full_sort(self, plans):
        assert "TakeOrderedAndProject" in plans["q22_sort_limit"]

    def test_q03_topk_avoids_full_sort(self, plans):
        assert "TakeOrderedAndProject" in plans["q03_shipping_priority"]


class TestNewOperatorShapes:
    def test_q101_semi_join_on_hashes(self, plans):
        # decontamination overlap = LEFT SEMI on 60-bit gram keys, no fanout
        assert "LeftSemi" in plans["q101_decontamination"]

    def test_q104_semi_join_chain(self, plans):
        assert "LeftSemi" in plans["q104_semi_join_chain"]

    def test_q105_single_expand_rollup(self, plans):
        # one Expand feeds both resolutions — never two scans of events
        p = plans["q105_time_rollup"]
        assert p.count("+- Expand") == 1
        assert "partial_count" in p

    def test_q100_bm25_takeordered(self, plans):
        assert "TakeOrderedAndProject" in plans["q100_bm25"]

    def test_q115_weighted_sample_takeordered(self, plans):
        assert "TakeOrderedAndProject" in plans["q115_weighted_priority_sample"]

    def test_q111_single_window_pass(self, plans):
        # both trailing metrics share one Window node / one exchange
        p = plans["q111_time_range_frame"]
        assert p.count("+- Window") == 1

    def test_q110_funnel_stays_broadcast(self, plans):
        # every stage table joins back broadcast — no fact-fact shuffle join
        p = plans["q110_funnel"]
        assert "SortMergeJoin" not in p

    def test_q127_disjunction_pushed_to_both_scans(self, plans):
        # Catalyst extracts each side's envelope out of the OR-of-ANDs and
        # pushes it: quantity ranges to lineitem, brand/type/size to part
        p = plans["q127_disjunctive_predicates"]
        assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in p
        assert "EqualTo(p_brand,Brand#13)" in p

    def test_q128_max_joins_by_hash_not_nested_loop(self, plans):
        # the 1-row MAX joins back by value equality → BroadcastHashJoin,
        # never a >= ALL nested-loop scan
        p = plans["q128_top_supplier"]
        assert "BroadcastHashJoin" in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_q124_part_filter_pushed(self, plans):
        assert "StringContains(p_name,widget)" in plans["q124_product_profit"]

    def test_scans_pruned_for_text_queries(self, plans):
        for name in ("q99_tfidf", "q101_decontamination", "q114_regex_tokens"):
            for line in plans[name].splitlines():
                if "ReadSchema" in line:
                    assert "source" not in line, f"{name} scans unused column"


class TestAggregation:
    def test_q01_partial_aggregation_and_single_shuffle(self, plans):
        # map-side combine: only |groups| rows cross the one exchange
        p = plans["q01_pricing_summary"]
        assert "partial_sum" in p
        # one shuffle node in the plan tree (each node renders once in the
        # tree and once in the detail section)
        assert p.count("+- Exchange") == 1

    def test_no_python_udfs_in_relational_core(self, plans):
        for name in ("q01_pricing_summary", "q30_window_ranking", "q43_array_funcs", "q53_simhash"):
            assert "BatchEvalPython" not in plans[name], f"{name} fell back to row-Python"
            assert "ArrowEvalPython" not in plans[name], f"{name} uses a pandas UDF"


class TestScaleHardening:
    """Round-2 scale fixes stay fixed: banded LSH key space and length-banded
    Jaccard candidate generation."""

    def test_q61_lsh_bucket_space_is_large(self):
        # a single short sign code (16 buckets) makes the within-bucket
        # self-join O((n/16)^2); the multi-table design must keep >= 2^16
        # buckets per table
        from kinesis_writer_spark.operators.similarity import (
            _LSH_TABLE_BITS,
            _LSH_TABLES,
        )

        assert _LSH_TABLE_BITS >= 16
        assert _LSH_TABLES >= 2

    def test_q61_joins_on_table_and_code(self, plans):
        p = plans["q61_lsh_cosine_neardup"]
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # candidate generation is an equi-join (hash-partitionable)
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p

    def test_q55_jaccard_joins_include_length_band(self, plans):
        # the q118-style covering band: join keys must include probe_band so
        # (lang, source) blocks never go quadratic with corpus growth, plus
        # the round-3 bottom-1 MinHash sketch key (min_sh) so same-length
        # non-duplicate bands don't pair up either
        p = plans["q55_ngram_jaccard"]
        assert "probe_band" in p
        assert "min_sh" in p
        assert "CartesianProduct" not in p

    def test_q118_fuzzy_joins_include_sketch_key(self, plans):
        p = plans["q118_fuzzy_levenshtein"]
        assert "probe_band" in p
        assert "min_sh" in p
        assert "CartesianProduct" not in p

    def test_q130_spine_join_is_tiny(self, plans):
        # the monthly rollup pre-aggregates orders; the spine join must be
        # a broadcast (either side), never a fact-table sort-merge
        p = plans["q130_recursive_month_spine"]
        assert "BroadcastHashJoin" in p

    def test_q102_neardup_blocks_on_ivf_cell(self, plans):
        # round-2's last quadratic shape: label-only blocks grow with the
        # corpus. The self-join key must include the trained-IVF cell id so
        # blocks stay O(corpus/k); assignment itself is a narrow
        # literal-centroid expression (no crossJoin, no window).
        p = plans["q102_embedding_neardup"]
        assert "cell_b" in p  # join key carries the cell id
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_q97_assignment_is_shuffle_free(self, plans):
        # the final k-means assignment inlines collected integer centroid
        # literals: a narrow least-of-k expression — no crossJoin, no
        # per-vector window, exactly one exchange (the output rollup)
        p = plans["q97_kmeans"]
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p
        assert "Window" not in p
        assert p.count("+- Exchange") <= 2

    def test_q143_pq_encode_is_shuffle_free(self, plans):
        # PQ encoding must be ONE narrow projection: codebooks are literal
        # models, so any Exchange or Join means the plan regressed to the
        # crossJoin/assignment-shuffle shape
        p = plans["q143_pq_encode"]
        assert "Exchange" not in p
        assert "Join" not in p

    def test_q139_passage_dedup_joins_on_hash(self, plans):
        # the join-back of the dup-hash set must key on the 60-bit passage
        # hash (8-byte shuffle rows), never on passage text
        p = plans["q139_passage_dedup"]
        assert "phash" in p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p

    def test_q142_eval_gram_side_broadcast(self, plans):
        # the benchmark gram set is eval-corpus-sized -> must broadcast;
        # a shuffled join here would re-shuffle the whole train gram table
        assert "BroadcastHashJoin" in plans["q142_contamination_overlap"]

    def test_q149_bucketed_join_no_join_shuffle(self, plans):
        # both sides read bucket-aligned files: the only Exchange in the plan
        # is the final aggregation; the fact-fact join itself never shuffles
        p = plans["q149_bucketed_join"]
        assert "SortMergeJoin" in p
        assert "Bucketed: true" in p
        assert p.count("+- Exchange") == 1

    def test_q150_join_keys_include_salt(self, plans):
        # the whole point of the operator: the physical join key space is
        # (hot_key, salt), never hot_key alone
        p = plans["q150_salted_skew_join"]
        assert "SortMergeJoin" in p
        assert "salt" in p


class TestScaleOpsShapes:
    def test_q193_candidate_join_is_equi_on_shingle_hash(self, plans):
        # PPJoin candidates come from an EQUI-join on rare prefix shingle
        # hashes — never a cartesian/theta pairing of documents
        p = plans["q193_prefix_filter_join"]
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "tok" in p

    def test_q195_merge_reaggregates_partials(self, plans):
        # incremental maintenance merges pre-aggregated partials: both legs
        # carry partial_sum/partial_count before the union's final aggregate
        p = plans["q195_incremental_agg_maintenance"]
        assert "Union" in p
        assert "partial_sum" in p

    def test_q197_orders_preaggregated_before_join(self, plans):
        # the fact table never reaches the customer join at row grain: the
        # per-customer spend aggregate sits below the join
        p = plans["q197_groupwise_regression"]
        assert "partial_sum" in p
        assert "Join" in p

    def test_q199_support_filter_below_wedge_join(self, plans):
        # the weight>=2 support threshold prunes edges BEFORE the wedge
        # join, and the triangle closure is a LEFT SEMI probe
        p = plans["q199_triangle_count"]
        assert "LeftSemi" in p
        assert "(w#" in p or "w >= 2" in p or ">= 2)" in p


class TestPipelineOpsShapes:
    def test_q206_incoming_side_broadcasts(self, plans):
        # incremental dedup streams the CORPUS past broadcasts of the small
        # incoming batch (digests + band keys) — a corpus-side shuffle here
        # would re-pay the full-rebuild cost the operator exists to avoid
        p = plans["q206_incremental_dedup"]
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p

    def test_q207_sessionize_single_pass(self, plans):
        # deltas come from ONE explode over sessions, not a UNION that would
        # run the sessionize windows twice: exactly 4 Window nodes (lag,
        # per-user running idx, per-hour running sum, tiny hour prefix)
        p = plans["q207_concurrency_peak"]
        assert p.count(") Window") == 4
        assert "Union" not in p

    def test_q209_rank_window_runs_once(self, plans):
        # raw cents join back to the broadcast cuts table; joining `ranked`
        # would execute the per-group sort window twice
        p = plans["q209_winsorized_stats"]
        assert p.count(") Window") == 2  # row_number + count share one sort
        assert "BroadcastHashJoin" in p

    def test_q210_sweep_is_day_partitioned(self, plans):
        # the sweep windows partition by dayno — no global-total-order
        # (empty partition spec) window anywhere in the coverage plan
        p = plans["q210_daily_coverage"]
        assert "windowspecdefinition(dayno" in p

    def test_q213_single_bigram_lineage(self, plans):
        # the bigram explode happens ONCE; counts/score/cut all hang off the
        # same Generate via window chaining (a cuts-table join-back would
        # re-run the whole explode lineage — two Generate nodes)
        p = plans["q213_rare_bigram_gate"]
        assert p.count(") Generate") == 1

    def test_q214_no_float_functions(self, plans):
        # the histogram must stay integer end-to-end: no sqrt/pow/cos in
        # the plan (quantize + cross-multiplied compares only)
        p = plans["q214_distance_histogram"]
        assert "SQRT" not in p and "POWER" not in p


def _exchange_count(plan: str) -> int:
    """Distinct Exchange operators (shuffle, broadcast, reused) in the plan
    tree. A cache that has already run prints its adaptive plan twice, the
    final plan's stages and the initial plan; an Exchange directly under a
    QueryStage is the final-plan copy and is not counted again, so the count
    does not depend on whether an earlier test filled the cache."""
    lines = plan.split("\n\n")[0].splitlines()
    return len(
        {
            m.group(1)
            for prev, line in zip([""] + lines, lines)
            if "QueryStage" not in prev
            and (m := re.search(r"\b\w*Exchange \((\d+)\)", line))
        }
    )


class TestMinHashFamilyShapes:
    """The shared MinHash/LSH chain adds no shuffle to any of its callers:
    each query keeps its Exchange count."""

    EXCHANGES = {
        "q51_minhash_signatures": 0,
        "q52_minhash_neardup": 9,
        "q133_minhash_estimate": 5,
        "q161_blocking_recall": 4,
        "q202_lsh_band_tuning": 24,
        "q206_incremental_dedup": 8,
        "q220_lsh_recall_eval": 13,
        "q239_dedup_chain_audit": 7,
        "q243_net_training_tokens": 8,
    }

    @pytest.mark.parametrize("name", sorted(EXCHANGES))
    def test_exchange_count(self, plans, name):
        assert _exchange_count(plans[name]) == self.EXCHANGES[name]


from kinesis_writer_spark.plans.audit import (  # noqa: E402
    single_partition_scan_violations as _single_partition_scan_violations,
)


class TestNoCorpusSingleTaskSorts:
    # Queries allowed a raw-scan single-partition exchange: all of them
    # funnel a BOUNDED table (≤ a few hundred rows at ANY scale factor:
    # dims, spines, driver-seeded literals), never a corpus-sized one.
    ALLOWED = {
        "q130_recursive_month_spine",  # 72-row generated month spine
    }

    def test_no_single_partition_window_over_corpus_input(self, plans):
        bad = {
            name: v
            for name, p in plans.items()
            if name not in self.ALLOWED and (v := _single_partition_scan_violations(p))
        }
        assert not bad, f"corpus-sized rows funnel through one task: {bad}"


class TestDedupSpreadGuard:
    """r15 (r14 verdict #1): the dedup family's input spread must be
    CONDITIONAL — repartition(defaultParallelism) only when the scan has
    fewer splits than cores. With a multi-split input (the 100 TB regime)
    the SimHash query must plan ZERO exchanges and the MinHash family must
    not round-robin-shuffle the corpus."""

    @pytest.fixture(scope="class")
    def multisplit_dir(self, spark, tmp_path_factory):
        import os

        from kinesis_writer_spark import io as kio

        base = tmp_path_factory.mktemp("ms_fixture")
        docs = spark.read.parquet(kio.table_path(SF_DIR, "documents"))
        docs.repartition(spark.sparkContext.defaultParallelism).write.parquet(
            str(base / "documents.parquet")
        )
        for t in kio.TABLES:
            if t == "documents":
                continue
            p = kio.table_path(SF_DIR, t)
            os.symlink(p, str(base / os.path.basename(p)))
        return str(base)

    def test_q53_zero_exchange_on_multisplit_input(self, spark, multisplit_dir):
        qs = registry.all_queries()
        p = formatted_plan(qs["q53_simhash"](spark, multisplit_dir))
        assert "Exchange" not in p

    def test_q52_no_corpus_spread_shuffle_on_multisplit_input(
        self, spark, multisplit_dir
    ):
        qs = registry.all_queries()
        p = formatted_plan(qs["q52_minhash_neardup"](spark, multisplit_dir))
        assert "roundrobinpartitioning" not in p.lower()

    def test_q53_single_file_input_still_spreads(self, spark):
        # locally a single parquet split must still fan out to every core
        qs = registry.all_queries()
        p = formatted_plan(qs["q53_simhash"](spark, SF_DIR))
        assert "roundrobinpartitioning" in p.lower()
