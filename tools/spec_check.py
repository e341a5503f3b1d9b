"""Spec-drift check: docs/TABLE_FORMAT.md ⇄ tests/test_manifest_table.py.

The table-format spec promises a set of invariants; each one is pinned
by at least one named test. This check makes the lockstep MECHANICAL:
every entry below must (a) appear verbatim as a phrase in the spec and
(b) name test functions that still exist in the test file. Renaming a
test, deleting an invariant's test, or rewording the spec sentence that
states an invariant fails the check — forcing whoever changed the
contract to update the other side (and this table) in the same commit.

Run standalone (``python tools/spec_check.py``) or as the pre-step of
``tools/selfcheck.py``. Also exercised by pytest via
tests/test_manifest_table.py's spec-lockstep test.
"""

from __future__ import annotations

import os
import re

_HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(_HERE, "..", "docs", "TABLE_FORMAT.md")
TESTS = os.path.join(_HERE, "..", "tests", "test_manifest_table.py")

# invariant key -> (exact spec phrase, [pinning test functions])
INVARIANTS: dict[str, tuple[str, list[str]]] = {
    "commit-is-manifest": (
        "a valid manifest at the next version name IS the commit",
        ["test_concurrent_appends_no_lost_update",
         "test_put_if_absent_claims_name_exactly_once"],
    ),
    "torn-manifest-burned": (
        "a torn manifest (invalid JSON / missing\n  `files`) is treated "
        "as uncommitted, its version number burned",
        ["test_torn_manifest_ignored_and_version_burned"],
    ),
    "cas-row-rewrites": (
        "any base move\n  raises `ConcurrentWriteError` instead of "
        "silently dropping the\n  winner's rows",
        ["test_merge_conflict_detection",
         "test_mor_ops_cas_conflict_on_stale_base",
         "test_compact_conflicts_with_concurrent_append"],
    ),
    "hwm-survives-every-commit": (
        "`last_batch_id` is replay protection for streaming sinks and "
        "must\n  survive every commit",
        ["test_merge_and_compact_carry_batch_high_water_mark",
         "test_plain_append_carries_stream_high_water_mark"],
    ),
    "metadata-only-row-accounting": (
        "Row accounting is metadata-only on stats-backed tables",
        ["test_commit_row_accounting_is_metadata_only_with_stats",
         "test_legacy_manifest_without_rowcounts_falls_back_to_recount"],
    ),
    "staged-cleanup-provability": (
        "Staged-file cleanup is classified POSITIONALLY by failure\n"
        "  provability",
        ["test_publish_failure_cleanup_classified_by_provability",
         "test_cas_conflict_cleans_up_staged_rewrite",
         "test_staged_cleanup_covers_base_exceptions"],
    ),
    "commit-ambiguous": (
        "surfaces as\n  `CommitAmbiguousError`",
        ["test_publish_failure_cleanup_classified_by_provability"],
    ),
    "merge-schema-contract": (
        "columns unknown to the snapshot always raise",
        ["test_merge_rejects_unknown_columns_even_when_nothing_touched",
         "test_merge_evolved_table_rejects_typod_columns",
         "test_merge_missing_columns_strict_on_unevolved_table",
         "test_merge_evolved_table_accepts_pre_evolution_updates"],
    ),
    "type-conformance": (
        "lossless numeric widenings\n(int→bigint, float→double) cast to "
        "the table's type at write, any\nother drift raises",
        ["test_merge_widens_narrow_batch_and_rejects_type_drift",
         "test_append_widens_and_rejects_drift_before_any_file_lands",
         "test_update_where_type_drift_rejected_both_modes",
         "test_update_mor_type_drift_rejected_before_any_io"],
    ),
    "identifier-contract": (
        "Identifier contract: column names ENTERING the table must\nnot "
        "contain dots or backticks",
        ["test_dotted_column_names_rejected_at_write",
         "test_grandfathered_dotted_table_stays_compactable"],
    ),
    "dv-immutable-file-keys": (
        "DV pairs are keyed by the **immutable data-file name**",
        ["test_mor_deletes_survive_rewrites_and_vacuum",
         "test_dv_read_preserves_user_column_named_f"],
    ),
    "dv-declared-schema": (
        "DV parts have the fixed schema `_f string, _pos bigint`",
        ["test_duplicate_dv_positions_delete_once_and_readers_agree",
         "test_snapshot_read_under_dv_debt_launches_no_metadata_jobs"],
    ),
    "rewrite-materializes-dvs": (
        "reads it DV-applied and drops its entry",
        ["test_cow_rewrite_on_dv_table", "test_mor_deletes_survive_rewrites_and_vacuum"],
    ),
    "dead-rows-stay-dead": (
        "dead rows cannot re-count, be updated back to\n  life",
        ["test_update_mor_delete_plus_insert_one_commit"],
    ),
    "vacuum-restore-refusal": (
        "`restore` refuses a snapshot whose parts (or data files) were\n"
        "  vacuumed",
        ["test_restore_refuses_when_dv_parts_missing",
         "test_restore_refuses_vacuumed_target"],
    ),
    "vacuum-inflight-grace": (
        "never deletes a never-referenced file younger than the\n"
        "  in-flight orphan grace",
        ["test_failed_write_leaves_table_untouched",
         "test_vacuum_retired_history_deleted_regardless_of_age"],
    ),
    "pruned-reads-schema-complete": (
        "The recorded `schema`\n  keeps pruned reads schema-complete",
        ["test_read_where_schema_complete_on_evolved_snapshot"],
    ),
    "schema-record-survives": (
        "they carry the\n`schema` record and `evolved` flag forward "
        "unconditionally",
        ["test_schema_record_survives_every_commit_type",
         "test_schema_record_invariants_under_any_history",
         "test_cow_merge_on_evolved_table_carries_evolved_flag"],
    ),
    "legacy-read-merged": (
        "legacy chain only: file homogeneity unprovable from",
        ["test_legacy_chain_append_sets_read_merged_not_evolved",
         "test_legacy_chain_merge_keeps_reads_loud_and_stays_strict",
         "test_pure_delete_merge_does_not_set_read_merged"],
    ),
    "table-changes-dv-diff": (
        "A\n  DV-entry change counts as the file changing",
        ["test_table_changes_reports_row_diff_for_merge",
         "test_table_changes_fold_property"],
    ),
    "cdc-sink-contract": (
        "per-key last\n  change, deletes win over earlier ops, one "
        "atomic commit per batch",
        ["test_streaming_full_cdc_apply_with_deletes",
         "test_apply_cdc_batch_fold_property",
         "test_apply_cdc_batch_merge_on_read_mode"],
    ),
    "exactly-once-streaming": (
        "exactly-once append per micro-batch",
        ["test_streaming_into_manifest_table_exactly_once",
         "test_streaming_cdc_upsert_exactly_once"],
    ),
    "cow-mor-equivalence": (
        "the COW≡MOR observational-equivalence\nproperty",
        ["test_merge_modes_observationally_equivalent"],
    ),
    "merge-null-key-determinism": (
        "NULL keys are\nexempt — a NULL never equi-matches any row, so "
        "a NULL-keyed update\nrow always inserts and a NULL delete key "
        "is always a no-op, in both\nmodes",
        ["test_merge_null_key_in_both_clauses_is_deterministic"],
    ),
    "restore-vacuum-race-heals": (
        "a restore racing a vacuum can never leave the live table "
        "bricked",
        ["test_restore_racing_vacuum_prepublish_refuses_loudly",
         "test_restore_racing_vacuum_postpublish_heals_and_raises"],
    ),
    "reads-never-silently-partial": (
        "every snapshot reader forces `ignoreMissingFiles` off "
        "per-relation",
        ["test_timetravel_read_racing_vacuum_fails_loud_never_partial",
         "test_cdf_read_racing_vacuum_fails_loud_never_partial",
         "test_wap_audit_on_vanished_stage_fails_loud_never_partial"],
    ),
    "wap-stage-marker": (
        "write-audit-publish stages under a `_stage/` marker that "
        "vacuum\n  honors regardless of file age",
        ["test_wap_audit_outliving_grace_survives_vacuum_via_stage_marker",
         "test_stage_marker_lifecycle_rejection_and_ttl_expiry"],
    ),
    "wap-ttl-vacuum-race": (
        "an audit that outlives the marker TTL must not produce a\n"
        "  committed-missing-file manifest",
        ["test_wap_marker_refresh_after_audit_restores_vacuum_protection",
         "test_wap_preput_recheck_refuses_vacuumed_stage_loudly",
         "test_wap_postput_vacuum_heals_and_batch_replay_lands",
         "test_wap_heal_skips_commits_stacked_on_the_torn_snapshot"],
    ),
    "nan-bounds-never-prune": (
        "a NaN bound is an unusable proof and never prunes",
        ["test_nan_stat_bound_never_prunes_in_range_rows"],
    ),
    "zorder-nan-domain": (
        "A NaN never enters the Z-order\n  scaling domain",
        ["test_cluster_zorder_one_nan_row_survives_and_stays_selective",
         "test_cluster_zorder_all_nan_column_refuses_loudly",
         "test_zorder_key_refuses_non_finite_bounds_and_routes_nan_top"],
    ),
    "bucket-set-no-phantom-null": (
        "A NULL row never enters a bucket set",
        ["test_bucket_sets_exclude_null_rows_and_null_probe_guided"],
    ),
    "mixed-bounds-widening": (
        "int bounds\nwiden to double for the probe, an int bound too "
        "wide for an exact\ndouble (>2^53) makes its file conservatively "
        "touched",
        ["test_merge_mixed_int_float_bounds_widens_and_still_prunes"],
    ),
}


def check() -> list[str]:
    """Returns a list of drift problems (empty = in lockstep)."""
    problems: list[str] = []
    with open(SPEC) as fh:
        spec = fh.read()
    with open(TESTS) as fh:
        tests = fh.read()
    test_names = set(re.findall(r"^def (test_\w+)", tests, re.M))
    for key, (phrase, pins) in INVARIANTS.items():
        if phrase not in spec:
            problems.append(
                f"{key}: spec phrase not found in docs/TABLE_FORMAT.md "
                f"(spec reworded without updating tools/spec_check.py?): "
                f"{phrase[:80]!r}"
            )
        for t in pins:
            if t not in test_names:
                problems.append(
                    f"{key}: pinning test {t} missing from "
                    "tests/test_manifest_table.py"
                )
    return problems


def main() -> int:
    problems = check()
    for p in problems:
        print("DRIFT ", p)
    print(f"{len(problems)} spec-drift problem(s) "
          f"({len(INVARIANTS)} invariants cross-referenced)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
