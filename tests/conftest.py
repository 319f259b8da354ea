from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from bossarrowstorageengine_spark.session import build_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = build_session("pytest", master="local[8]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


# ---------------------------------------------------------------------------
# Fast-by-default suite: every test whose call took >= 5 s in the last full
# timing run of the slow set (``-m slow --durations=0``, 4 cores) is marked
# `slow` here and DESELECTED BY DEFAULT via pytest.ini's `-m "not slow"`, so
# the default run stays well inside its time budget.  Re-time and re-derive
# this set by the same 5 s rule when per-test cost moves.  The slow set stays
# runnable as an opt-in:
#
#     python -m pytest tests/ -m ""            # full suite
#     python -m pytest tests/ -m slow          # only the slow set
SLOW_TESTS = {
    "test_arrowipc.py::test_manifest_commits_are_delta_sized_with_checkpoints",
    "test_arrowipc.py::test_merge_upserts_by_key_in_one_snapshot_commit",
    "test_arrowipc.py::test_roundtrip_identity_per_codec[zstd]",
    "test_arrowipc.py::test_stream_restart_from_checkpoint_is_exactly_once",
    "test_arrowipc_property.py::test_ann_index_lsm_matches_dict_replay",
    "test_arrowipc_property.py::test_cow_delete_equals_filter",
    "test_arrowipc_property.py::test_feed_compact_content_invariant_arbitrary_histories",
    "test_arrowipc_property.py::test_partitioned_cow_update_equals_projection_and_placement",
    "test_arrowipc_property.py::test_roundtrip_identity_arbitrary_rows",
    "test_arrowipc_property.py::test_roundtrip_identity_stream_encoding",
    "test_boss_property.py::test_compiled_matches_rendered_sql",
    "test_curation.py::test_label_propagation_flags_unconverged_long_chain",
    "test_determinism.py::test_result_invariant_to_shuffle_width[q_storage_timetravel_diff]",
    "test_llm_ops.py::test_ann_ivf_deterministic_and_sane",
    "test_llm_ops.py::test_ann_ivfpq_shape_and_rerank_order",
    "test_llm_ops.py::test_ann_ivfpq_trained_codebooks_reduce_residual_distortion",
    "test_oracle.py::test_query_matches_oracle[q_ann_generations]",
    "test_oracle.py::test_query_matches_oracle[q_ann_generations_payload]",
    "test_oracle.py::test_query_matches_oracle[q_ann_index_maintain]",
    "test_oracle.py::test_query_matches_oracle[q_ann_ivf_maintained]",
    "test_oracle.py::test_query_matches_oracle[q_ann_ivfpq_maintained]",
    "test_oracle.py::test_query_matches_oracle[q_ann_lsh_maintained]",
    "test_oracle.py::test_query_matches_oracle[q_ann_recall_report]",
    "test_oracle.py::test_query_matches_oracle[q_bpe_train_n]",
    "test_oracle.py::test_query_matches_oracle[q_dedup_apply]",
    "test_oracle.py::test_query_matches_oracle[q_dedup_pipeline]",
    "test_oracle.py::test_query_matches_oracle[q_feed_consumer_groups]",
    "test_oracle.py::test_query_matches_oracle[q_feed_index_cocompact]",
    "test_oracle.py::test_query_matches_oracle[q_mv_restore]",
    "test_oracle.py::test_query_matches_oracle[q_purge_derived]",
    "test_oracle.py::test_query_matches_oracle[q_purge_propagate]",
    "test_oracle.py::test_query_matches_oracle[q_purge_restore_guard]",
    "test_oracle.py::test_query_matches_oracle[q_purge_text]",
    "test_plans.py::test_no_python_udf_outside_udf_family",
    "test_round10_props.py::test_cc_large_small_star_matches_min_label_and_union_find",
    "test_round11_props.py::test_ann_recall_report_orders_sanely",
    "test_round12_props.py::test_ann_index_maintain_consistent_and_nonvacuous",
    "test_round12_props.py::test_ann_recall_report_trained_methods",
    "test_round13_props.py::test_ann_lsh_maintained_matches_inline_rebucketing",
    "test_round13_props.py::test_ann_lsh_maintained_probe3_rebucketed",
    "test_round13_props.py::test_cocompact_flags_and_state_cardinality",
    "test_round13_props.py::test_purge_guard_unit_positional_and_missing_ledger",
    "test_round13_props.py::test_purge_propagate_flags_versions_nonvacuous",
    "test_round13_props.py::test_purge_restore_guard_flags_and_positional",
    "test_round14_props.py::test_ann_ivf_maintained_properties",
    "test_round14_props.py::test_consumer_group_driven_maintainers",
    "test_round14_props.py::test_feed_consumer_groups_properties",
    "test_round14_props.py::test_purge_derived_properties",
    "test_round14_props.py::test_purge_text_audit_reads_persisted_table",
    "test_round15_props.py::test_generational_rollover_inherits_payload_and_checks_gen_tags",
    "test_round15_props.py::test_merge_ledger_state_property_matches_full_outer",
    "test_round15_props.py::test_stream_ivf_generation_rollover",
    "test_round5_props.py::test_pareto_frontier_matches_bruteforce",
    "test_round8_props.py::test_bpe_train_n_matches_reference_trainer",
    "test_round9_props.py::test_cc_min_label_matches_union_find",
    "test_round9_props.py::test_dedup_apply_accounting_closes",
    "test_stream_batch_differential.py::test_differential_dedup_within_window",
    "test_stream_batch_differential.py::test_differential_stream_dedup",
    "test_stream_batch_differential.py::test_differential_watermark_drop_face",
    "test_streaming.py::test_custom_stateful_running_totals",
    "test_streaming.py::test_stateful_profile_across_micro_batches",
    "test_streaming.py::test_stream_ann_index_maintain_matches_rebuild",
    "test_streaming.py::test_stream_chunk_dedup_probes_index_incrementally",
    "test_streaming.py::test_stream_guarded_index_fails_loudly_on_resurrection",
    "test_streaming.py::test_stream_mv_fanout_commits_consumer_group_position",
    "test_streaming.py::test_stream_mv_fanout_matches_batch_twin",
    "test_streaming.py::test_stream_mv_maintain_matches_batch_twin",
    "test_streaming.py::test_stream_mv_maintain_through_feed_compaction",
    "test_streaming.py::test_stream_native_maintained_index_tails_feed",
    "test_streaming.py::test_stream_session_gap_matches_batch_twin",
    "test_streaming.py::test_stream_session_gap_reordered_matches_batch_twin",
    "test_streaming.py::test_stream_stream_interval_join",
    "test_streaming.py::test_stream_vocab_refresh_matches_batch_trainer",
    "test_streaming.py::test_tumbling_append_emits_closed_windows_and_drops_late",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        tail = item.nodeid.split("tests/")[-1]
        if tail in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
