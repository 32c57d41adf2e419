"""Validation suite runner: verdicts per (partition, check) + resume.

Per-partition verdict semantics mirror the reference's -1/+1 encoding
(``base.py:50-52``): a (part, check) cell fails (-1) iff it produced
≥1 error-level violation; warnings leave it passing but are reported.

Resumability (north-star requirement): a run is keyed by a snapshot id
(for parquet the content hash of the input's file listing, for Iceberg
the real snapshot id). The ledger records completed partitions; a
re-run plans only the remainder by filtering on the partition column,
which Catalyst turns into partition pruning on a Hive/Iceberg-
partitioned table (only the remaining partitions' files are even
listed). ``run_validation_job`` is the one job driver for both table
sources: only the planning step (``plan_parquet`` /
``sources.iceberg.plan_table``) differs.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.plans.checks import (
    Check,
    empty_metrics,
    empty_violations,
)

VERDICT_SCHEMA = "part int, check string, n_errors long, n_warnings long, verdict int"


@dataclass
class SuiteResult:
    verdicts: DataFrame
    violations: DataFrame
    metrics: DataFrame
    parts_checked: list[int]
    cached: tuple[DataFrame, ...] = ()

    def unpersist(self, blocking: bool = False) -> None:
        """Release every cache the suite run holds (call after the
        outputs have been materialized/written).

        Releasing ALL of it matters beyond memory: a later plan-identical
        ``run_suite`` call re-persists the same logical plans, and
        Spark's cache manager resolves those to the still-materialized
        InMemoryRelations — silently skipping the heavy stages (payload
        decode, uniqueness shuffles). Correct for production re-runs,
        fatal for benchmarks that believe they measured a full pass
        (a 2M-image suite "ran" in 56s against 1037s of real work).
        ``blocking=True`` waits for block removal (deterministic tests).
        """
        for d in (self.violations, self.metrics, *self.cached):
            d.unpersist(blocking=blocking)


def _union_all(dfs: list[DataFrame], empty: DataFrame) -> DataFrame:
    if not dfs:
        return empty
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# deterministic total-order key for violation exemplars: errors sort
# ahead of warnings, then entity/column/value — so the capped set is a
# pure function of the violation VALUES, independent of partitioning
_EXEMPLAR_ORDER = ["level", "entity_id", "column", "value", "threshold", "message"]


def cap_violations(violations: DataFrame, per_cell: int) -> DataFrame:
    """Bound violations to ``per_cell`` deterministic exemplars per
    (check, part) cell — the 10^12-row guard: a systematically broken
    ingest (every caption mismatching) must not make the violations
    sink itself a 10^12-row write. True counts still reach the verdict
    grid and metrics; this bounds only the row-level exemplar output.

    Two-stage top-k: a partition-LOCAL cap (mapInPandas, no shuffle)
    first reduces each input partition to its own ``per_cell`` best
    rows per cell, so the global window rank shuffles at most
    n_partitions × per_cell rows per cell instead of the raw
    violation set — a dead partition with 10^9 failing rows would
    otherwise funnel them all through one reducer. The global top-k
    of a total order is the union of partition-local top-ks, so the
    result is identical to ranking the full set.
    """
    cols = list(violations.columns)
    asc = [F.col(c).asc_nulls_first() for c in _EXEMPLAR_ORDER]

    def local_cap(batches):
        import pandas as pd

        best: dict[tuple, "pd.DataFrame"] = {}
        for pdf in batches:
            for cell, grp in pdf.groupby(["check", "part"], dropna=False):
                prev = best.get(cell)
                cand = grp if prev is None else pd.concat([prev, grp])
                best[cell] = cand.sort_values(
                    _EXEMPLAR_ORDER, na_position="first", kind="mergesort"
                ).head(per_cell)
        if best:
            yield pd.concat(list(best.values()))[cols]

    pre = violations.mapInPandas(local_cap, schema=violations.schema)
    w = Window.partitionBy("check", "part").orderBy(*asc)
    return (
        pre.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= per_cell)
        .drop("_rk")
    )


def quarantine_ids(
    violations: DataFrame, levels: tuple[str, ...] = ("error",)
) -> DataFrame:
    """Distinct ``entity_id`` values implicated in row-level
    violations at the given ``levels`` (one string column,
    ``entity_id``). Partition-level violations (NULL entity_id —
    drift, stats-constraint breaches) don't quarantine rows.

    Feed the UNCAPPED violations when quarantining: under
    ``violations_cap`` the sink holds per-(check, part) exemplars, so
    ids derived from it UNDER-quarantine by design. ``run_suite``'s
    in-memory ``result.violations`` is capped only if you asked for
    the cap."""
    return (
        violations.filter(
            F.col("level").isin(list(levels)) & F.col("entity_id").isNotNull()
        )
        .select("entity_id")
        .distinct()
    )


def clean_table(
    df: DataFrame,
    violations_or_ids: DataFrame,
    entity_col: str = "image_id",
    levels: tuple[str, ...] = ("error",),
    broadcast: bool | str = "auto",
) -> DataFrame:
    """The consumable output of a validation run: ``df`` minus every
    row whose ``entity_col`` appears in the violations — what a
    training pipeline reads instead of the raw table.

    Accepts either a violations DataFrame (VIOLATION_SCHEMA — reduced
    via ``quarantine_ids``) or an already-distinct id table with an
    ``entity_id`` column. LEFT ANTI join; the distinct shuffles only
    the violating subset, never the fact side.

    ``broadcast`` picks the anti-join strategy for the fact side:

    - ``"auto"`` (default): no hint — AQE chooses from the id side's
      ACTUAL runtime size against
      ``spark.sql.adaptive.autoBroadcastJoinThreshold`` (10 MB
      default ≈ a few hundred thousand string ids). Sparse defects
      broadcast (no fact shuffle); a systematically broken ingest
      (e.g. 30% bad rows — hundreds of millions of ids at 10^12
      scale) silently degrades to a shuffle join instead of OOMing
      the driver/executors on a forced broadcast. Pinned by
      tests/test_plans.py::test_clean_table_auto_switches_join.
    - ``True``: force the broadcast hint (bypasses the threshold —
      only when the caller KNOWS the id set is small).
    - ``False``: force no hint and disqualify broadcast by placing a
      ``MERGE`` hint, for callers that know the id side is huge and
      want to skip AQE's attempt."""
    cols = set(violations_or_ids.columns)
    if {"level", "entity_id"} <= cols:  # VIOLATION_SCHEMA-shaped
        ids = quarantine_ids(violations_or_ids, levels)
    elif "entity_id" in cols:  # an id table (extra columns tolerated)
        ids = violations_or_ids.select("entity_id").distinct()
    else:
        raise ValueError(
            "violations_or_ids needs an entity_id column "
            f"(got {sorted(cols)})"
        )
    if broadcast is True:
        side = F.broadcast(ids)
    elif broadcast is False:
        side = ids.hint("merge")
    else:
        side = ids
    return df.join(
        side, on=df[entity_col].cast("string") == side["entity_id"], how="left_anti"
    )


def run_suite(
    df: DataFrame,
    checks: list[Check],
    part_col: str = "part",
    parts: list[int] | None = None,
    violations_cap: int | None = None,
) -> SuiteResult:
    """Run checks over (optionally a subset of) partitions.

    ``parts=None`` runs everything; a list filters via the partition
    column (partition pruning on partitioned storage).
    """
    spark = df.sparkSession
    if parts is not None:
        df = df.filter(F.col(part_col).isin([int(p) for p in parts]))

    # SCAN FUSION: every check except the payload decode reads only the
    # narrow (non-binary) columns. Running each check against the raw
    # input re-scans the fact table once per check (~8 passes for the
    # default suite) — at 10^12 rows that is the dominant cost. Share
    # ONE cached narrow projection instead: the binary payload column
    # (the bulk of the bytes on disk) is pruned from it, so it is the
    # smallest table that can feed stats/uniqueness/referential/drift,
    # and the payload check alone scans the original input.
    from pyspark.sql.types import BinaryType

    narrow_cols = [
        f.name for f in df.schema.fields if not isinstance(f.dataType, BinaryType)
    ]
    cached: tuple[DataFrame, ...] = ()
    shared = df
    if (
        not df.is_cached  # already-persisted input: the columnar cache
        # serves pruned scans directly; a second cache only adds cost
        and len(narrow_cols) < len(df.schema.fields)
        and any(not c.needs_full_input for c in checks)
    ):
        shared = df.select(*narrow_cols).persist()
        cached = (shared,)

    # the distinct-parts collect doubles as the cache-materializing pass
    all_parts = [r[0] for r in shared.select(part_col).distinct().collect()]

    v_list, m_list = [], []
    for check in checks:
        out = check.run(df if check.needs_full_input else shared)
        v_list.append(out.violations)
        m_list.append(out.metrics)
        cached = cached + tuple(out.cached)
    # persist the (sparse) violation rows: they feed both the verdict
    # grid aggregation and the violations sink — without this every
    # consumer would re-run all checks against the full input.
    # With violations_cap set, the FULL union is never persisted (in
    # the pathological all-rows-failing case it is input-sized):
    # verdict counts aggregate it in one map-side-partial pass served
    # by the per-check caches, and only the capped exemplars persist.
    violations_full = _union_all(v_list, empty_violations(spark))
    if violations_cap is None:
        violations = violations_full.persist()
        counts_src = violations
    else:
        counts_src = violations_full
        violations = cap_violations(violations_full, violations_cap).persist()
    # metrics are small aggregated rows, but their lineage re-runs the
    # per-check aggregations — persist so the metrics sink write and
    # any later consumer compute them once
    metrics = _union_all(m_list, empty_metrics(spark)).persist()

    # verdict grid: every (part, check) cell, failed iff >=1 error —
    # counts always come from the FULL violation set, never the cap
    counts = counts_src.groupBy("part", "check").agg(
        F.sum(F.when(F.col("level") == "error", 1).otherwise(0)).alias("n_errors"),
        F.sum(F.when(F.col("level") == "warning", 1).otherwise(0)).alias("n_warnings"),
    )
    # build the (part × check) grid driver-side as a pure-JVM literal
    # relation: createDataFrame would pickle it into a Python RDD whose
    # coalesce(1) iterates every slice through ONE worker sequentially
    # — measured 4.9s PER ACTION for a 224-cell grid (a quarter of the
    # 100k-image suite wall); the literal form is milliseconds
    from anomaly_detection_toolkit_spark.functions.localrel import local_rows_df

    grid_rows = [(int(p), c.name) for p in all_parts for c in checks]
    grid = local_rows_df(spark, grid_rows, "part int, check string")
    verdicts = (
        grid.join(counts, ["part", "check"], "left")
        .withColumn("n_errors", F.coalesce(F.col("n_errors"), F.lit(0)).cast("long"))
        .withColumn("n_warnings", F.coalesce(F.col("n_warnings"), F.lit(0)).cast("long"))
        .withColumn(
            "verdict", F.when(F.col("n_errors") > 0, F.lit(-1)).otherwise(F.lit(1)).cast("int")
        )
    )
    # global (part = -1) violations fail every listed partition's cell?
    # No — they are reported per check at part=-1 in the verdict table.
    return SuiteResult(
        verdicts, violations, metrics, sorted(int(p) for p in all_parts), cached
    )


# ---------------------------------------------------------------------------
# Resume ledger
# ---------------------------------------------------------------------------


def _listing_hash(root: str) -> str:
    """Hash of the data-file listing under ``root``: relative path,
    size and mtime of every file not starting with ``_`` or ``.``.
    Name+size alone misses an in-place same-size rewrite (fixed-width
    re-ingest); the mtime makes a touched file re-validate rather than
    silently keep stale verdicts."""
    import hashlib

    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for fn in sorted(files):
            if fn.startswith(("_", ".")):
                continue
            p = os.path.join(d, fn)
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def snapshot_id(input_path: str) -> str:
    """Content hash of the input file listing (path, size, mtime) —
    the manifest-fallback analogue of an Iceberg snapshot id (SURVEY
    §7.0: Iceberg runtime jar absent in this environment)."""
    return _listing_hash(input_path)


def partition_fingerprints(input_path: str, part_col: str = "part") -> dict[int, str]:
    """Per-partition content hash of a Hive-partitioned table's file
    listing — the per-partition analogue of :func:`snapshot_id` and
    the manifest-fallback for Iceberg's incremental scan. At 10^12
    rows a new snapshot is almost always an APPEND (yesterday's
    partitions untouched); fingerprinting each ``part=k`` directory
    lets the ledger re-validate only partitions whose bytes actually
    changed instead of the whole table. Returns {} for a table that is
    not directory-partitioned (callers fall back to a full re-run)."""
    fps: dict[int, str] = {}
    prefix = f"{part_col}="
    if not os.path.isdir(input_path):
        return fps
    for entry in sorted(os.listdir(input_path)):
        full = os.path.join(input_path, entry)
        if not (entry.startswith(prefix) and os.path.isdir(full)):
            continue
        try:
            fps[int(entry[len(prefix):])] = _listing_hash(full)
        except ValueError:
            continue
    return fps


class Ledger:
    """JSON manifest: snapshot id + completed partitions + output
    lineage. The only code that writes ``ledger.json``."""

    def __init__(self, ledger_dir: str):
        self.dir = ledger_dir
        self.path = os.path.join(ledger_dir, "ledger.json")

    def load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"snapshot_id": None, "completed_parts": [], "runs": []}

    def save(self, state: dict) -> None:
        # a temp file unique to this call: concurrent savers never share
        # (and rename away) one another's .tmp, and os.replace publishes
        # only a fully written file, so a reader never sees a torn ledger
        os.makedirs(self.dir, exist_ok=True)
        tmp = f"{self.path}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(state, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def remaining_parts(
        self, snap, all_parts: list[int], fps: dict[int, str] | None = None
    ) -> list[int]:
        """Partitions to validate for snapshot ``snap``. Same snapshot:
        the ones not completed yet (resume). New snapshot: the ones
        never completed or whose current fingerprint in ``fps`` differs
        from the recorded one. A part without a fingerprint always
        re-runs, so ``fps`` empty (non-incremental run, table not
        directory-partitioned) plans the full table."""
        state = self.load()
        done = set(state["completed_parts"])
        if state["snapshot_id"] == snap:
            return [p for p in all_parts if p not in done]
        fps = fps or {}
        recorded = state.get("part_fingerprints", {})
        return [
            p
            for p in all_parts
            if p not in done or fps.get(p) is None or recorded.get(str(p)) != fps[p]
        ]

    def record(
        self,
        snap,
        parts: list[int],
        outputs: dict[str, str],
        fingerprints: dict[int, str] | None = None,
        table_schema: dict[str, str] | None = None,
        run_seq: int | None = None,
        all_parts: Iterable[int] = (),
        todo: Iterable[int] = (),
    ) -> None:
        """Record completed ``parts`` under snapshot ``snap``.

        One advance rule for every planner: when the snapshot moves,
        the completed set becomes ``parts`` plus the completed parts
        that still exist (``all_parts``) but were not planned
        (``todo``) — the planner judged their data unchanged, so their
        verdicts carry. Recorded fingerprints stay only for those
        carried parts; a part gone from the table leaves the ledger.
        Called without ``all_parts`` nothing carries and a new snapshot
        starts from scratch. The validated parts' hashes in
        ``fingerprints`` are kept for the next incremental plan."""
        state = self.load()
        if state["snapshot_id"] != snap:
            carried = (set(all_parts) - set(todo)) & set(state["completed_parts"])
            state["snapshot_id"] = snap
            state["completed_parts"] = sorted(carried)
            state["part_fingerprints"] = {
                k: v
                for k, v in state.get("part_fingerprints", {}).items()
                if int(k) in carried
            }
            # the run log, run-seq counter and recorded schema survive
            # snapshot advances: run_seq must stay monotonic or sink
            # rows from different snapshots would collide on the same
            # run_seq (history_drift keys its current-vs-history split
            # on it), and the schema baseline must outlive the snapshot
            # or evolution at a snapshot boundary — the common case —
            # would never be diffed
        state["completed_parts"] = sorted(
            set(state["completed_parts"]) | {int(p) for p in parts}
        )
        fingerprints = fingerprints or {}
        state.setdefault("part_fingerprints", {}).update(
            {str(p): fingerprints[p] for p in parts if p in fingerprints}
        )
        if table_schema is not None:
            state["table_schema"] = table_schema
        self._log_run(state, snap, parts, outputs, run_seq)

    def record_schema_change(
        self, snap, table_schema: dict[str, str], outputs: dict[str, str], run_seq: int
    ) -> None:
        """Log a metadata-only run: advance ONLY the schema baseline and
        the run log — snapshot_id and completed_parts are the planner's
        bookkeeping and a run that validated no data must not disturb
        them."""
        state = self.load()
        state["table_schema"] = table_schema
        self._log_run(state, snap, [], outputs, run_seq, schema_only=True)

    def _log_run(self, state, snap, parts, outputs, run_seq, **extra) -> None:
        runs = state.setdefault("runs", [])
        # default past BOTH the run log and any burned reservation —
        # a crashed job's reserved seq tagged sink rows, so minting it
        # again would collide in every history baseline
        seq = (
            max(len(runs), int(state.get("next_run_seq", 0)))
            if run_seq is None
            else int(run_seq)
        )
        runs.append(
            {"ts": time.time(), "run_seq": seq,
             "snapshot_id": snap, "parts": sorted(int(p) for p in parts),
             "outputs": outputs, **extra}
        )
        state["next_run_seq"] = max(int(state.get("next_run_seq", 0)), seq + 1)
        self.save(state)

    def reserve_run_seq(self) -> int:
        """Allocate the next run_seq and persist the bump BEFORE any
        sink write. If a job dies between appending tagged sink rows
        and ``record()``, the reserved seq is simply skipped — the
        next run can never re-tag rows with an already-used run_seq
        (which would double-count a run in every history baseline)."""
        state = self.load()
        seq = max(int(state.get("next_run_seq", 0)), len(state.get("runs", [])))
        state["next_run_seq"] = seq + 1
        self.save(state)
        return seq


def compact_sinks(
    spark: SparkSession,
    output_dir: str,
    sinks: tuple[str, ...] = (
        "verdicts",
        "violations",
        "metrics",
        "history_drift",
        "quarantine_ids",
    ),
    target_files: int = 1,
    _pre_swap_hook=None,
) -> dict[str, tuple[int, int]]:
    """Rewrite each append-mode sink as ``target_files`` parquet files.

    Every validation run appends a fresh file set to each sink; years
    of daily runs on a 10^6-partition table turn the TINY aggregated
    sinks into a classic small-files problem (listing + footer reads
    dominate). The sinks stay small in BYTES, so compaction is a
    single read→write of each (with ``mergeSchema`` so pre-lineage
    rows keep their NULL ``run_seq``), verified by row count before
    the swap; the previous files are kept as ``<sink>.bak`` until the
    swap completes. Local-filesystem semantics — on Iceberg-backed
    sinks use the catalog's ``rewrite_data_files`` instead.

    Concurrency: compaction is NOT safe against a validation run
    appending to the same sink mid-compaction — files landing after
    the initial listing would be silently dropped by the swap. The
    file listing is therefore re-checked immediately before the swap
    and the sink is skipped (entry ``(-1, files_now)``) if it
    changed. After the first compaction each sink path is a SYMLINK
    to a versioned data dir (``<sink>.data0``/``.data1``) and the
    swap is one atomic rename of a fresh symlink — readers never see
    an absent sink. Only the initial plain-dir→symlink conversion
    retains a two-syscall absence window (once per sink ever), with
    ``<sink>.bak`` intact for manual recovery on a crash in the gap.

    Returns ``{sink: (rows, files_before)}`` for what was compacted;
    a skipped sink maps to ``(-1, current_file_count)``.
    ``_pre_swap_hook(sink)`` is a test seam invoked between the
    row-count verification and the re-listing (how the
    concurrent-append skip is exercised deterministically).
    """
    import shutil

    def _listing(p: str) -> set[str]:
        return {
            os.path.relpath(os.path.join(root, f), p)
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        }

    done: dict[str, tuple[int, int]] = {}
    for sink in sinks:
        path = os.path.join(output_dir, sink)
        if not os.path.isdir(path):
            continue
        files_before = _listing(path)
        df = spark.read.option("mergeSchema", "true").parquet(path)
        tmp = path + ".compact.tmp"
        df.coalesce(max(1, int(target_files))).write.mode("overwrite").parquet(tmp)
        n_before = df.count()
        n_after = spark.read.parquet(tmp).count()
        if n_after != n_before:  # pragma: no cover - defensive
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"compaction of {sink} lost rows ({n_before} -> {n_after})"
            )
        if _pre_swap_hook is not None:
            _pre_swap_hook(sink)
        now = _listing(path)
        if now != files_before:
            # a concurrent run appended (or pruned) files after the
            # read — swapping now would silently lose those rows
            shutil.rmtree(tmp)
            done[sink] = (-1, len(now))
            continue
        bak = path + ".bak"
        if os.path.isdir(bak):
            shutil.rmtree(bak)
        if os.path.islink(path):
            # steady state: <sink> is a symlink to a versioned data
            # dir (<sink>.data0/.data1), so the swap is ONE atomic
            # rename of a fresh symlink over the old one — readers
            # never observe an absent sink path. The superseded data
            # dir is NOT deleted here: a reader that resolved the
            # symlink just before the flip may still be mid-read in
            # it, so it lingers one cycle (sinks are tiny) and the
            # NEXT compaction's rmtree below reclaims it.
            old_data = os.path.realpath(path)
            new_data = path + (
                ".data1" if old_data.endswith(".data0") else ".data0"
            )
            if os.path.isdir(new_data):
                shutil.rmtree(new_data)
            os.rename(tmp, new_data)
            swap = path + ".swap"
            if os.path.lexists(swap):
                os.remove(swap)
            os.symlink(os.path.basename(new_data), swap)
            os.rename(swap, path)
        else:
            # first compaction converts the plain append dir into the
            # symlink layout; the only brief-absence window (two
            # syscalls between the renames) lives here, once per sink
            # ever, with <sink>.bak intact for recovery on a crash
            new_data = path + ".data0"
            if os.path.isdir(new_data):
                shutil.rmtree(new_data)
            os.rename(tmp, new_data)
            os.rename(path, bak)
            os.symlink(os.path.basename(new_data), path)
            shutil.rmtree(bak)
        done[sink] = (n_after, len(files_before))
    return done


def record_schema_only_change(
    spark: SparkSession,
    ledger: "Ledger",
    snap,
    prev_schema: dict[str, str] | None,
    cur_schema: dict[str, str],
    output_dir: str,
) -> bool:
    """Report schema evolution when a run has NO data partitions to
    validate — e.g. Iceberg ``ALTER TABLE ADD COLUMN`` creates no new
    snapshot and touches no data files, so the planner's todo list is
    empty, yet the evolution must not go unreported until some
    unrelated commit forces a re-run. Appends the warning rows (with
    a reserved run_seq) and advances the recorded schema; returns True
    iff a change was recorded."""
    from anomaly_detection_toolkit_spark.plans.checks import (
        schema_diff,
        schema_evolution_violations,
    )

    if prev_schema is None or not schema_diff(prev_schema, cur_schema):
        return False
    run_seq = ledger.reserve_run_seq()
    path = os.path.join(output_dir, "violations")
    schema_evolution_violations(spark, prev_schema, cur_schema).withColumn(
        "run_seq", F.lit(run_seq)
    ).withColumn("snapshot_id", F.lit(str(snap))).write.mode("append").parquet(path)
    ledger.record_schema_change(snap, cur_schema, {"violations": path}, run_seq)
    return True


@dataclass
class TablePlan:
    """A table source's planning step, handed to the job driver."""

    df: DataFrame
    snap: str | int
    all_parts: list[int]
    todo: list[int]
    fingerprints: dict[int, str] = field(default_factory=dict)


def plan_parquet(
    spark: SparkSession,
    input_path: str,
    ledger: Ledger,
    part_col: str = "part",
    incremental: bool = False,
) -> TablePlan:
    """Parquet planning: the file-listing hash is the snapshot id;
    ``incremental`` adds per-``part=`` fingerprints so a new snapshot
    plans only new or changed partitions."""
    df = spark.read.parquet(input_path)
    snap = snapshot_id(input_path)
    all_parts = sorted(r[0] for r in df.select(part_col).distinct().collect())
    fps = partition_fingerprints(input_path, part_col) if incremental else {}
    todo = ledger.remaining_parts(snap, all_parts, fps)
    return TablePlan(df, snap, all_parts, todo, fps)


def run_validation_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checks: list[Check] | None = None,
    part_col: str = "part",
    incremental: bool = False,
    violations_cap: int | None = None,
    table_format: str = "parquet",
    snapshot_id: int | None = None,
) -> SuiteResult | None:
    """Resumable end-to-end job for parquet and Iceberg tables: plan
    the partitions to run, run the suite, append outputs, record
    completion. Only planning depends on ``table_format``: "parquet"
    (``plan_parquet``; ``incremental=True`` re-validates only new or
    changed ``part=`` directories on a new snapshot) or "iceberg"
    (``sources.iceberg.plan_table``: ``input_path`` is a table name,
    read pinned to ``snapshot_id``, default current; needs the jar).

    Returns None when there is nothing to validate: the snapshot is
    already validated (idempotent re-run) or the Iceberg table is
    empty."""
    from anomaly_detection_toolkit_spark.plans.checks import (
        default_suite,
        schema_evolution_violations,
    )

    checks = checks or default_suite()
    ledger = Ledger(os.path.join(output_dir, "_ledger"))
    if table_format == "parquet":
        plan = plan_parquet(spark, input_path, ledger, part_col, incremental)
    elif table_format == "iceberg":
        from anomaly_detection_toolkit_spark.sources.iceberg import plan_table

        plan = plan_table(spark, input_path, ledger, part_col, snapshot_id)
        if plan is None:
            return None
    else:
        raise ValueError(f"unknown table_format {table_format!r}")
    df, snap = plan.df, plan.snap
    cur_schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    prev_schema = ledger.load().get("table_schema")
    if not plan.todo:
        # no data to (re-)validate — but an in-place schema change
        # (the metadata-only evolution case) must still be reported
        # and the recorded baseline advanced
        record_schema_only_change(
            spark, ledger, snap, prev_schema, cur_schema, output_dir
        )
        return None
    result = run_suite(
        df, checks, part_col=part_col, parts=plan.todo, violations_cap=violations_cap
    )
    # run lineage: every appended sink row carries which run (a
    # monotonically increasing per-output-dir sequence, RESERVED in
    # the ledger before any sink write so a crash mid-job can never
    # lead to a reused run_seq) and which input snapshot produced it
    # — the metrics history that history_drift scores across runs
    run_seq = ledger.reserve_run_seq()
    # undeclared schema evolution vs the previous run (metadata-only;
    # warning rows — the declared SchemaCheck stays the error gate)
    evo = schema_evolution_violations(spark, prev_schema, cur_schema)
    outputs = {}
    for name, out_df in (
        ("verdicts", result.verdicts),
        ("violations", result.violations.unionByName(evo)),
        ("metrics", result.metrics),
    ):
        path = os.path.join(output_dir, name)
        out_df.withColumn("run_seq", F.lit(run_seq)).withColumn(
            "snapshot_id", F.lit(str(snap))
        ).write.mode("append").parquet(path)
        outputs[name] = path
    ledger.record(
        snap,
        result.parts_checked,
        outputs,
        fingerprints=plan.fingerprints,
        table_schema=cur_schema,
        run_seq=run_seq,
        all_parts=plan.all_parts,
        todo=plan.todo,
    )
    # outputs are materialized — release the shared narrow-projection
    # cache (violations/metrics stay persisted for the caller)
    for d in result.cached:
        d.unpersist()
    return result
