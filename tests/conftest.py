from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"

# The slow lane (VERDICT r13 item 1; see pytest.ini): every test that
# measured >= 8 s in the recorded full-suite run (625 passed, 31m27s,
# round 14). Marked centrally by `<file>::<test>` key rather than
# per-file decorators so the lane is one auditable list. The default run
# (`pytest tests/ -x -q`) excludes these via addopts; the full suite —
# including every oracle-parity and property pin below — stays
# runnable with -m "slow or not slow" (documented weekly lane).
# A stale id here is harmless in the safe direction (an unmarked slow
# test merely slows the default lane; a renamed fast test never gets
# skipped), but we warn so the list tracks reality.
SLOW_TESTS = {
    "test_fixtures.py::test_frozen_ivfpq_equals_live",
    "test_lsh_neardup.py::test_lsh_neardup_precision_and_recall",
    "test_multimodal.py::test_nonaligned_crop_phase_voting",
    "test_oracle_parity.py::test_oracle_parity[cdc_ann_index_deletes]",
    "test_oracle_parity.py::test_oracle_parity[corpus_dedup_cascade]",
    "test_oracle_parity.py::test_oracle_parity[dedup_incremental_semantic]",
    "test_oracle_parity.py::test_oracle_parity[knn_filtered_ivfpq]",
    "test_oracle_parity.py::test_oracle_parity[knn_ivfpq_pruned_store]",
    "test_oracle_parity.py::test_oracle_parity[knn_ivfpq_rerank]",
    "test_oracle_parity.py::test_oracle_parity[knn_mmr_rerank]",
    "test_oracle_parity.py::test_oracle_parity[knn_pq_rerank]",
    "test_oracle_parity.py::test_oracle_parity[stream_cc_labels_mv]",
    "test_properties.py::test_connected_components_matches_union_find",
    "test_properties.py::test_containment_pairs_matches_bruteforce",
    "test_properties.py::test_temperature_mix_matches_reference",
    "test_properties.py::test_triangle_census_matches_bruteforce",
    "test_stateful.py::test_tws_dedup_native_state_ttl_expires",
    "test_streaming.py::test_apply_changes_scd1_delete_and_intrabatch_dedup",
    "test_streaming.py::test_apply_changes_scd1_late_update_after_delete_stays_deleted",
    "test_streaming.py::test_apply_changes_scd2_late_event_splits_interval",
    "test_table_properties.py::test_random_op_sequences_match_model",
    "test_table_properties.py::test_salted_join_equals_plain_join",
    "test_tablestore.py::test_merge_null_key_matches_regardless_of_file_layout",
    "test_tablestore_extras.py::test_catalog_listing_with_filters",
    "test_tablestore_extras.py::test_identity_legacy_table_bootstraps_from_footer_stats",
    "test_transactions.py::test_transaction_commit_chain",
    "test_wordpiece.py::test_wordpiece_spark_equals_reference_on_random_corpora",
}


def pytest_collection_modifyitems(config, items):
    seen = set()
    for item in items:
        # keyed on file name + test name, so neither the invocation cwd
        # nor moving a test file into a subdirectory unmarks anything
        key = f"{item.path.name}::{item.name}"
        if key in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            seen.add(key)
    missing = SLOW_TESTS - seen
    # only meaningful when the whole suite was collected; partial
    # selections (single file, -k) legitimately miss entries
    if missing and len(items) > 500:
        import warnings

        warnings.warn(f"SLOW_TESTS entries not collected (renamed?): {sorted(missing)}")


@pytest.fixture(scope="session")
def spark():
    from lakehouse_tacklebox_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s
