from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crypto_data_service_loader_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# --------------------------------------------------------------------------
# `quick` tier (VERDICT r10 item #4): one representative test per operator
# family so `pytest -m quick` smoke-covers every family in <5 min — the
# pre-commit gate that would have caught the r10 OPERATORS.md drift. Whole
# cheap GATE files are included wholesale; for everything else one curated
# representative. The fuzzer (test_fuzz_oracles) and the full plan-shape /
# plan-audit sweeps are deliberately NOT quick — they are the deep
# round-close gates. Entries are validated against collection so a rename
# orphans loudly, but only for files present in the current collection
# (running a single file stays possible).
# --------------------------------------------------------------------------

#: every test in these files is quick (cheap, no Spark jobs or tiny ones)
_QUICK_FILES = {
    "test_survey_coverage.py",
    "test_bench_contract.py",
}

#: one representative per family file: "<file>::<test name>"
_QUICK_TESTS = {
    "test_ann_index.py::test_lsh_index_topk_matches_inline_operator",
    "test_api_surface.py::test_minhash_signature_shape_and_determinism",
    "test_asof.py::test_interpolate_fill_semantics",
    "test_asof_and_functions.py::test_asof_join_matches_pandas_merge_asof",
    "test_bpe.py::test_trainer_matches_reference",
    "test_clickhouse_http.py::test_bulk_insert_gzip_passthru_and_readback",
    "test_contract.py::test_rule_semantics",
    "test_corpus_ingest.py::test_stream_dedups_within_and_across_epochs",
    "test_crash_recovery.py::test_reclaim_after_commit_does_not_duplicate",
    "test_graph_index.py::test_index_edges_equal_inline_knn_graph",
    "test_idempotent_sink.py::test_replayed_batch_does_not_duplicate",
    "test_interchange.py::test_parquet_to_orc_round_trip",
    "test_join_chooser.py::test_decision_flips_at_broadcast_threshold",
    "test_jsonl.py::test_corrupt_lines_quarantined_not_fatal",
    "test_kll.py::test_exact_below_k_and_validation",
    "test_linkage.py::test_blocked_join_matches_brute_force_for_substitutions",
    "test_llm_ops.py::test_decode_bmp_stats_matches_hand_computed",
    "test_media_index.py::test_index_query_equals_inline",
    "test_metrics.py::test_timed_block_emits_throughput_event",
    "test_minhash_index.py::test_index_query_equals_inline",
    "test_monitoring.py::test_acf_alternating_series",
    "test_operators.py::test_scd2_history_versions_and_validity",
    "test_partitioning.py::test_date_partitioned_registry_prunes",
    "test_plan_audit.py::test_no_accidental_cartesian[media_decode_stats]",
    "test_plans.py::test_filter_pushdown_to_parquet",
    "test_profile.py::test_profile_columns_stats",
    "test_properties.py::test_status_transitions_forward_only",
    "test_registry_ops.py::test_status_transitions",
    "test_relational.py::test_rolling_corr_semantics",
    "test_sample_pps.py::test_total_multiplicity_is_exactly_k",
    "test_service_e2e.py::test_service_cycles_end_to_end",
    "test_sketch.py::test_hll_merge_equals_whole",
    "test_stateful_streaming.py::test_stateful_running_totals_stream",
    "test_streaming_pipeline.py::test_cleanup_deletes_finished_keeps_error",
    "test_substr_index.py::test_substr_index_probe_matches_inline_union",
    "test_suite_oracle.py::test_every_query_has_callable_shape",
    "test_text_index.py::test_index_query_equals_inline_bm25",
    "test_tickgen.py::test_tickgen_rowcount_schema_and_partitions",
    "test_zonemap.py::test_pruned_read_equals_full_filtered_scan",
}


def pytest_collection_modifyitems(config, items):
    matched = set()
    seen_files = set()
    for item in items:
        fname = os.path.basename(str(item.fspath))
        seen_files.add(fname)
        key = f"{fname}::{item.name}"
        if fname in _QUICK_FILES or key in _QUICK_TESTS:
            item.add_marker(pytest.mark.quick)
            matched.add(key)
    # Only enforce the orphan check for whole-file/dir runs: selecting a
    # single test id (::) or using -k legitimately narrows the collection.
    narrowed = config.getoption("keyword", "") or any(
        "::" in a for a in config.args
    )
    if narrowed:
        return
    orphans = {
        k for k in _QUICK_TESTS
        if k.split("::")[0] in seen_files and k not in matched
    }
    assert not orphans, f"quick-tier entries no longer collected: {orphans}"
