"""Iceberg seam: planning logic over synthetic metadata tables.

The Iceberg runtime jar is absent here (SURVEY §7.0), so these tests
build DataFrames with exactly Iceberg's documented ``snapshots`` /
``entries`` metadata schemas and verify the planning code the cluster
path would run: ancestry walk, snapshot delta, changed-partition
computation, incremental plan, the plan from ledger state, and the
ledger advance.
"""

from __future__ import annotations

import pytest

from anomaly_detection_toolkit_spark.plans.runner import Ledger
from anomaly_detection_toolkit_spark.sources import iceberg as ice

SNAP_SCHEMA = (
    "committed_at timestamp, snapshot_id long, parent_id long, operation string"
)
ENTRY_SCHEMA = (
    "status int, snapshot_id long, "
    "data_file struct<partition: struct<part: int>, file_path: string, "
    "record_count: long>"
)


def snapshots(spark, rows):
    # rows: (committed_at_iso, snapshot_id, parent_id, op)
    import datetime as dt

    data = [
        (dt.datetime.fromisoformat(ts), sid, pid, op) for ts, sid, pid, op in rows
    ]
    return spark.createDataFrame(data, SNAP_SCHEMA)


def entries(spark, rows):
    # rows: (status, snapshot_id, part, path, nrec)
    data = [(st, sid, ((part,), path, n)) for st, sid, part, path, n in rows]
    return spark.createDataFrame(data, ENTRY_SCHEMA)


@pytest.fixture(scope="module")
def snap_log(spark):
    # 10 -> 20 -> 30 linear history, plus an orphan branch head 99
    return snapshots(
        spark,
        [
            ("2024-01-01T00:00:00", 10, None, "append"),
            ("2024-01-02T00:00:00", 20, 10, "append"),
            ("2024-01-03T00:00:00", 30, 20, "overwrite"),
            ("2024-01-04T00:00:00", 99, None, "append"),
        ],
    )


@pytest.fixture(scope="module")
def entry_log(spark):
    return entries(
        spark,
        [
            # snapshot 10 created parts 0 and 1
            (ice.STATUS_ADDED, 10, 0, "f0", 100),
            (ice.STATUS_ADDED, 10, 1, "f1", 100),
            # snapshot 20 appended to part 2; part 0/1 carried EXISTING
            (ice.STATUS_EXISTING, 20, 0, "f0", 100),
            (ice.STATUS_EXISTING, 20, 1, "f1", 100),
            (ice.STATUS_ADDED, 20, 2, "f2", 100),
            # snapshot 30 rewrote part 1 (delete + add), two files added
            (ice.STATUS_DELETED, 30, 1, "f1", 100),
            (ice.STATUS_ADDED, 30, 1, "f1b", 90),
            (ice.STATUS_ADDED, 30, 1, "f1c", 10),
            (ice.STATUS_EXISTING, 30, 0, "f0", 100),
            (ice.STATUS_EXISTING, 30, 2, "f2", 100),
        ],
    )


def test_not_available_locally(spark):
    assert ice.iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="manifest fallback"):
        ice.read_table(spark, "cat.db.t", snapshot_id=30)


def test_current_snapshot_is_latest_commit(spark, snap_log):
    assert ice.current_snapshot_id(snap_log) == 99
    assert ice.current_snapshot_id(snapshots(spark, [])) is None


def test_ancestry_walk(snap_log):
    assert ice.snapshot_ancestry(snap_log, 30) == [10, 20, 30]
    assert ice.snapshot_ancestry(snap_log, 99) == [99]
    with pytest.raises(KeyError):
        ice.snapshot_ancestry(snap_log, 7)


def test_ancestry_cycle_detected(spark):
    log = snapshots(
        spark,
        [
            ("2024-01-01T00:00:00", 1, 2, "append"),
            ("2024-01-02T00:00:00", 2, 1, "append"),
        ],
    )
    with pytest.raises(ValueError, match="cycle"):
        ice.snapshot_ancestry(log, 2)


def test_snapshots_between(snap_log):
    assert ice.snapshots_between(snap_log, None, 30) == [10, 20, 30]
    assert ice.snapshots_between(snap_log, 10, 30) == [20, 30]
    assert ice.snapshots_between(snap_log, 30, 30) == []
    # 99 is not an ancestor of 30 → delta unknowable → None (full rerun)
    assert ice.snapshots_between(snap_log, 99, 30) is None


def test_changed_partitions_ignores_existing_entries(entry_log):
    assert ice.changed_partitions(entry_log, [20]) == [2]
    # rewrite = delete+add in the same part → reported once
    assert ice.changed_partitions(entry_log, [30]) == [1]
    assert ice.changed_partitions(entry_log, [20, 30]) == [1, 2]
    assert ice.changed_partitions(entry_log, []) == []


def test_plan_incremental(snap_log, entry_log):
    # validated through snap 20 with parts 0,1,2 done; snap 30 rewrote
    # part 1 → only part 1 reruns
    todo = ice.plan_incremental_parts(
        snap_log, entry_log, 20, 30, completed_parts=[0, 1, 2], all_parts=[0, 1, 2]
    )
    assert todo == [1]
    # a part never completed runs even though unchanged
    todo = ice.plan_incremental_parts(
        snap_log, entry_log, 20, 30, completed_parts=[0, 1], all_parts=[0, 1, 2]
    )
    assert todo == [1, 2]
    # same snapshot → plain resume (remaining parts only)
    todo = ice.plan_incremental_parts(
        snap_log, entry_log, 30, 30, completed_parts=[0], all_parts=[0, 1, 2]
    )
    assert todo == [1, 2]
    # unknown ancestry (branch head 99 → 30) → full re-run
    todo = ice.plan_incremental_parts(
        snap_log, entry_log, 99, 30, completed_parts=[0, 1, 2], all_parts=[0, 1, 2]
    )
    assert todo == [0, 1, 2]


def test_ledger_record_carries_unchanged_parts(tmp_path):
    ledger = Ledger(str(tmp_path))
    # first full run at snapshot 20
    ledger.record(20, [0, 1, 2], {}, all_parts=[0, 1, 2], todo=[0, 1, 2])
    state = ledger.load()
    assert state["snapshot_id"] == 20 and state["completed_parts"] == [0, 1, 2]
    # snapshot 30 replanned only part 1: parts 0,2 carry forward
    ledger.record(30, [1], {}, all_parts=[0, 1, 2], todo=[1])
    state = ledger.load()
    assert state["snapshot_id"] == 30
    assert state["completed_parts"] == [0, 1, 2]
    assert len(state["runs"]) == 2
    # a crash before completing part 1 at snap 30 would have left it
    # out of completed_parts; simulate the resume bookkeeping
    ledger.record(40, [], {}, all_parts=[0, 1, 2], todo=[0, 1, 2])
    assert ledger.load()["completed_parts"] == []
    # a partition dropped from the table leaves the completed set
    ledger.record(50, [0, 1, 2], {}, all_parts=[0, 1, 2], todo=[0, 1, 2])
    ledger.record(60, [1], {}, all_parts=[0, 1], todo=[1])
    assert ledger.load()["completed_parts"] == [0, 1]


def test_plan_from_ledger(snap_log, entry_log, expired_log, expired_entries, tmp_path):
    """The Iceberg plan reads the ledger the shared job driver wrote."""
    ledger = Ledger(str(tmp_path))
    # a ledger at snapshot 20 moving to 30: only the rewritten part 1
    ledger.record(20, [0, 1, 2], {}, all_parts=[0, 1, 2], todo=[0, 1, 2])
    assert ice.plan_from_ledger(snap_log, entry_log, ledger, 30, [0, 1, 2]) == [1]
    # a ledger written for a parquet table (file-listing hex hash, no
    # Iceberg ancestor) in the same output dir: full run, even for a
    # completed part the retained snapshot log never touched
    state = ledger.load()
    state["snapshot_id"] = "3f9a0c1e7b2d4a65"
    ledger.save(state)
    assert ice.plan_from_ledger(snap_log, entry_log, ledger, 30, [0, 1, 2]) == [0, 1, 2]
    assert ice.plan_from_ledger(
        expired_log, expired_entries, ledger, 50, [0, 3, 4]
    ) == [0, 3, 4]


def test_validate_cli_iceberg_without_jar(spark, tmp_path, monkeypatch, capsys):
    """--format iceberg on a session without the runtime jar exits 2
    with the jar status and writes nothing."""
    import os

    import validate

    monkeypatch.setattr(validate, "get_spark", lambda *a, **k: spark)
    out = tmp_path / "out"
    rc = validate.main(
        ["--format", "iceberg", "--input", "cat.db.t", "--output", str(out)]
    )
    assert rc == 2
    assert "ABSENT from this session's classpath" in capsys.readouterr().out
    assert not os.path.exists(out)


# ---------------------------------------------------------------------------
# Round-4 depth: snapshot expiry + rewrite_data_files compaction
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def expired_log(spark):
    """History after expireSnapshots: original root 10 and child 20
    are GONE; the oldest retained snapshot 30 still carries
    parent_id=20 pointing past the retention horizon."""
    return snapshots(
        spark,
        [
            ("2024-01-03T00:00:00", 30, 20, "append"),
            ("2024-01-04T00:00:00", 40, 30, "replace"),   # compaction
            ("2024-01-05T00:00:00", 50, 40, "append"),
        ],
    )


@pytest.fixture(scope="module")
def expired_entries(spark):
    return entries(
        spark,
        [
            # snap 30 appended part 3
            (ice.STATUS_ADDED, 30, 3, "f3", 100),
            (ice.STATUS_EXISTING, 30, 0, "f0", 100),
            # snap 40 = rewrite_data_files: parts 0 and 3 compacted
            # (delete+add, logical rows unchanged)
            (ice.STATUS_DELETED, 40, 0, "f0", 100),
            (ice.STATUS_ADDED, 40, 0, "f0c", 100),
            (ice.STATUS_DELETED, 40, 3, "f3", 100),
            (ice.STATUS_ADDED, 40, 3, "f3c", 100),
            # snap 50 appended part 4
            (ice.STATUS_ADDED, 50, 4, "f4", 100),
            (ice.STATUS_EXISTING, 50, 0, "f0c", 100),
            (ice.STATUS_EXISTING, 50, 3, "f3c", 100),
        ],
    )


def test_ancestry_truncates_at_expiry_horizon(expired_log):
    """The walk must stop at the retention horizon and never emit the
    phantom (expired, unreadable) parent id."""
    assert ice.snapshot_ancestry(expired_log, 50) == [30, 40, 50]
    assert ice.snapshot_ancestry(expired_log, 30) == [30]


def test_delta_across_direct_expired_parent(expired_log):
    """Ledger validated at 20, then 10/20 expired: the parent link
    20 -> 30 proves every retained snapshot is after 20, so the delta
    is the retained chain — no forced full re-run."""
    assert ice.snapshots_between(expired_log, 20, 50) == [30, 40, 50]


def test_delta_beyond_expiry_horizon_is_unknowable(expired_log):
    """Ledger validated at 10 (two expirations back): snapshot 20's
    changes are gone from the log, so the delta cannot be derived —
    None forces the conservative full re-run."""
    assert ice.snapshots_between(expired_log, 10, 50) is None


def test_compaction_does_not_mark_partitions_changed(
    expired_log, expired_entries
):
    """rewrite_data_files (operation='replace') rewrites files without
    changing logical rows: with everything validated through snap 30,
    moving to snap 50 must re-run ONLY part 4 (the real append) —
    parts 0/3's compaction churn is skipped."""
    todo = ice.plan_incremental_parts(
        expired_log,
        expired_entries,
        30,
        50,
        completed_parts=[0, 3],
        all_parts=[0, 3, 4],
    )
    assert todo == [4]
    # opting out (auditing the rewrite itself) re-runs compacted parts
    todo = ice.plan_incremental_parts(
        expired_log,
        expired_entries,
        30,
        50,
        completed_parts=[0, 3],
        all_parts=[0, 3, 4],
        skip_replace=False,
    )
    assert todo == [0, 3, 4]


def test_jar_status_self_reports(spark):
    """The session stamps the probe result at start; the seam's error
    messages state jar status explicitly."""
    assert spark.conf.get("spark.adt.iceberg.available") == "false"
    assert "ABSENT" in ice.jar_status(spark)
    with pytest.raises(RuntimeError, match="ABSENT from this session"):
        ice.read_table(spark, "cat.db.t")
    with pytest.raises(RuntimeError, match="ABSENT from this session"):
        ice.load_metadata(spark, "cat.db.t")
