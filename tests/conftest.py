from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simsearch_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run the slow tier (multi-minute mount/lock/split suites) too",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute test (skipped by default; --runslow or "
        "SIMSEARCH_RUN_SLOW=1 runs the full tier)",
    )


#: The slow tier (VERDICT r14 task 1), centrally listed so the tiering is
#: auditable in one place.  Chosen from a full `--durations=0` run
#: (1406 s total, 718 tests): value None tiers the whole module
#: (operational mount lifecycle suites added by the r13/r14 partial build
#: round — drift/refresh/split/lock loops, each test tens of seconds); a
#: set tiers only the named tests and keeps the file's fast
#: correctness-parity pins in the default run.  Tiered tests still run
#: with --runslow / SIMSEARCH_RUN_SLOW=1 — nothing is deleted.  Default
#: tier after this split: ~540 s on the reference host (was ~1400 s).
SLOW_TESTS: dict[str, set[str] | None] = {
    "test_mount_audit.py": None,
    "test_mount_split.py": None,
    "test_mount_lock.py": {
        "test_mutators_respect_a_held_lock",
        "test_compact_dedup_fence_aborts_on_bypassing_append",
        "test_compact_dedup_clean_run_after_fence_abort",
        "test_compact_racing_live_stream_loses_nothing",
        "test_full_refresh_keeps_held_lock_file",
        "test_stream_sink_commits_fresh_manifest_counts",
        "test_refresh_fence_catches_bypassing_delete",
    },
    "test_langid.py": {
        "test_trigram_lang_classifies_each_seed_language",
        "test_v2_stopword_prefilter_decides_when_it_has_evidence",
        "test_suffix_mutation_defeats_stopwords_but_not_trigrams",
    },
    "test_mount.py": {
        "test_compaction_trigger_policy",
        "test_append_equals_union_mount",
        "test_stream_append_equals_batch_append",
    },
    "test_mount_dedup.py": {
        "test_dedup_embed_append_same_cell_parity",
        "test_compact_dedup_collapses_append_debris",
        "test_stream_dedup_append_equals_batch",
    },
    "test_dedup_ann.py": {"test_cc_driver_tier_equals_distributed_tier"},
    "test_review_r12.py": {"test_refresh_crash_recovery_and_shrink_guard"},
    "test_advice_r11.py": {
        "test_append_rows_duplicate_ids_are_noops",
        "test_stream_append_replay_is_idempotent",
    },
    "test_quantile.py": {"test_matches_builtin_percentile_exhaustively"},
    "test_ann_recall.py": {"test_recall_monotone_in_n_probe_and_saturates"},
    "test_advice_r13.py": {"test_bands_failure_does_not_mark_delta_mounted"},
    "test_cluster.py": {"test_assignment_table_equals_literal"},
}


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (VERDICT r14 task 1): a plain `pytest tests/` must
    finish inside the external driver's time budget, so the multi-minute
    suites are marked `slow` and SKIPPED by default — no test is deleted,
    and `pytest tests/ --runslow` (or SIMSEARCH_RUN_SLOW=1) runs every
    tier exactly as before."""
    run_all = config.getoption("--runslow") or os.environ.get("SIMSEARCH_RUN_SLOW")
    skip_slow = pytest.mark.skip(
        reason="slow tier: run with --runslow or SIMSEARCH_RUN_SLOW=1"
    )
    for item in items:
        in_slow = False
        if item.fspath.basename in SLOW_TESTS:
            entry = SLOW_TESTS[item.fspath.basename]
            in_slow = entry is None or item.name.split("[", 1)[0] in entry
        if in_slow:
            item.add_marker(pytest.mark.slow)
        if not run_all and (in_slow or "slow" in item.keywords):
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="simsearch-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Session-scoped alias for hypothesis tests (function-scoped fixtures
    trip hypothesis' health checks)."""
    return spark


@pytest.fixture(scope="session")
def live_files(spark):
    """``live_files(mount_dir)``: {mount-relative path: bytes} of the
    manifest and of every file under the directories it names — what a
    reader can see; unnamed debris is not part of it."""
    from simsearch_spark.mount.artifacts import snapshot

    def read(mount_dir):
        snap = snapshot(spark, mount_dir)
        out = {"manifest.json": snap.raw}
        for name in snap.manifest["dirs"]:
            for top in snap.paths(name):
                for root, _dirs, files in os.walk(top):
                    for f in files:
                        p = os.path.join(root, f)
                        with open(p, "rb") as fh:
                            out[os.path.relpath(p, mount_dir)] = fh.read()
        return out

    return read
