"""spark-submit entry point for the validation engine.

    spark-submit --py-files dist/engine.zip validate.py \
        --input /path/to/images_table --output /path/to/results

Runs the resumable validation job (SURVEY §3.4): plan the remaining
partitions from the ledger, run the default check suite, append
verdicts/violations/metrics parquet, record the ledger entry. A
re-run over an unchanged snapshot is a no-op; a changed snapshot
(new/modified input files) re-validates everything, or with
--incremental (always, for --format iceberg) only the changed
partitions. Parquet and Iceberg tables run the same job
(``plans.runner.run_validation_job``); only the planning differs.

Under spark-submit the cluster master is inherited; run directly
(``python validate.py``) it falls back to local[all-cores].
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

# allow running both from the repo and as a --py-files zip deployment
sys.path.insert(0, str(Path(__file__).resolve().parent))

from anomaly_detection_toolkit_spark.plans.runner import (  # noqa: E402
    Ledger,
    run_validation_job,
)
from anomaly_detection_toolkit_spark.session import get_spark  # noqa: E402
from anomaly_detection_toolkit_spark.sources.iceberg import (  # noqa: E402
    iceberg_available,
    jar_status,
    read_table,
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--input",
        required=True,
        help="image+caption table: a parquet path, or an Iceberg table "
        "name (catalog.db.table) with --format iceberg",
    )
    ap.add_argument("--output", required=True, help="output dir (verdicts/violations/metrics + ledger)")
    ap.add_argument("--part-col", default="part")
    ap.add_argument(
        "--format",
        choices=("parquet", "iceberg"),
        default="parquet",
        help="iceberg pins reads to a snapshot id and plans incremental "
        "re-validation from the snapshot log (requires the Iceberg "
        "Spark runtime jar on the cluster); parquet uses the manifest "
        "fallback (file-listing snapshot hash + --incremental "
        "fingerprints)",
    )
    ap.add_argument(
        "--snapshot-id",
        type=int,
        default=None,
        help="iceberg only: validate this snapshot instead of the "
        "current one (read-consistency pin for resumed runs)",
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="on a NEW snapshot re-validate only new/changed part= "
        "directories (per-partition fingerprint ledger) instead of the "
        "whole table — the append-mostly petabyte-table mode",
    )
    ap.add_argument(
        "--drift-primitives",
        action="store_true",
        help="arm all four drift scorers (KS + cross-partition z-score "
        "+ IQR fences + PCA reconstruction error on the phash "
        "histogram) instead of the KS-only default suite",
    )
    ap.add_argument(
        "--drift-rolling",
        type=int,
        default=None,
        metavar="W",
        help="with --drift-primitives: score the z-score/IQR drift "
        "primitives against the trailing W partitions in part order "
        "(rolling baseline) instead of the global cross-partition "
        "distribution — flags regime changes when they arrive",
    )
    ap.add_argument(
        "--history-drift",
        action="store_true",
        help="after the run, score this run's metrics against the "
        "metrics history of PRIOR runs in the same output dir "
        "(cross-run temporal drift: z-score + IQR fences per "
        "(check, part, metric) cell) and append the scored cells to "
        "<output>/history_drift",
    )
    ap.add_argument(
        "--history-window",
        type=int,
        default=None,
        metavar="W",
        help="with --history-drift: baseline = the trailing W runs "
        "instead of all prior runs",
    )
    ap.add_argument("--history-z", type=float, default=3.0)
    ap.add_argument("--history-iqr-k", type=float, default=1.5)
    ap.add_argument(
        "--history-min-runs",
        type=int,
        default=3,
        help="cells with fewer prior observations never flag",
    )
    ap.add_argument(
        "--quarantine",
        action="store_true",
        help="write the distinct error-level entity ids of THIS run to "
        "<output>/quarantine_ids — the list consumers anti-join away "
        "(plans.runner.clean_table) to read only passing rows. "
        "Combined with --violations-cap the ids cover only the kept "
        "exemplars (under-quarantine); leave the cap off when the id "
        "list must be complete",
    )
    ap.add_argument(
        "--clean-output",
        metavar="PATH",
        default=None,
        help="after the run, write the CLEAN TABLE (input minus rows "
        "whose entity id carries an error-level violation in the "
        "output dir's violations sink — every recorded run, so "
        "incremental runs still exclude rows flagged earlier) to PATH "
        "as parquet, partitioned by the partition column — the "
        "consumable 'passing rows only' view a training pipeline "
        "reads. Join strategy picked by AQE from the violating-id "
        "side's runtime size (plans.runner.clean_table)",
    )
    ap.add_argument(
        "--clean-entity-col",
        default="image_id",
        help="entity column of the input the violation ids refer to "
        "(default image_id, matching the north-star table)",
    )
    ap.add_argument(
        "--compact-sinks",
        action="store_true",
        help="after the run, rewrite each append-mode sink as one "
        "parquet file (years of appended runs = small-files problem; "
        "the sinks are tiny in bytes). Parquet-dir sinks only — on "
        "Iceberg use rewrite_data_files. The swap is atomic (symlink "
        "flip) except the very first compaction of a sink, which has "
        "a two-syscall window where the path is absent; sinks a "
        "concurrent run appends to mid-compaction are skipped",
    )
    ap.add_argument(
        "--violations-cap",
        type=int,
        default=None,
        metavar="K",
        help="bound the violations output to K deterministic exemplar "
        "rows per (check, part) cell; verdict/metric counts stay exact. "
        "The petabyte-table guard: a systematically broken ingest must "
        "not make the violations sink an input-sized write",
    )
    ap.add_argument(
        "--master",
        default="inherit",
        help="'inherit' under spark-submit (default), or e.g. local[8]",
    )
    args = ap.parse_args(argv)

    spark = get_spark("adt-validate", master=args.master)
    checks = None
    if args.drift_primitives:
        from anomaly_detection_toolkit_spark.plans.checks import extended_suite

        checks = extended_suite(rolling_window=args.drift_rolling)
    elif args.drift_rolling is not None:
        ap.error("--drift-rolling requires --drift-primitives")
    if args.format == "iceberg" and not iceberg_available(spark):
        print(f"--format iceberg unavailable: {jar_status(spark)}")
        return 2
    t0 = time.perf_counter()
    result = run_validation_job(
        spark,
        args.input,
        args.output,
        checks=checks,
        part_col=args.part_col,
        incremental=args.incremental,
        violations_cap=args.violations_cap,
        table_format=args.format,
        snapshot_id=args.snapshot_id,
    )
    dt = time.perf_counter() - t0
    if result is None:
        print(f"nothing to do: snapshot already fully validated ({dt:.1f}s)")
    else:
        verdicts = result.verdicts.collect()
        n_fail = sum(1 for r in verdicts if r["verdict"] == -1)
        print(
            f"validated parts={result.parts_checked} cells={len(verdicts)} "
            f"failed_cells={n_fail} wall={dt:.1f}s outputs={args.output}"
        )
        for r in verdicts:
            if r["verdict"] == -1:
                print(f"  FAIL part={r['part']} check={r['check']} errors={r['n_errors']}")
    if args.quarantine and result is None:
        print(
            "quarantine: skipped — needs a validation run's "
            "violations (nothing was validated)"
        )
    elif args.quarantine:
        import os

        from pyspark.sql import functions as F

        from anomaly_detection_toolkit_spark.plans.runner import quarantine_ids

        # tag the id list with the run that produced it (same lineage
        # as the other sinks) so the dir can accumulate across runs
        # without consumers anti-joining away ids from runs whose
        # defects have since been fixed: read the NEWEST run's ids,
        # not the whole dir
        last = Ledger(os.path.join(args.output, "_ledger")).load()["runs"][-1]
        qpath = os.path.join(args.output, "quarantine_ids")
        ids = quarantine_ids(result.violations).withColumn(
            "run_seq", F.lit(int(last["run_seq"]))
        ).withColumn("snapshot_id", F.lit(str(last["snapshot_id"])))
        ids.write.mode("append").parquet(qpath)
        print(
            f"quarantine: {ids.count()} entity ids "
            f"(run_seq={last['run_seq']}) -> {qpath}"
        )
    # the clean view reads the violations SINK and history drift the
    # metrics sink, both of which exist from prior runs — a
    # nothing-to-do rerun still honours these flags
    if args.clean_output:
        _write_clean_output(spark, args)
    if args.history_drift:
        _run_history_drift(spark, args)
    if args.compact_sinks:
        _compact(spark, args)
    return 0


def _write_clean_output(spark, args) -> None:
    """See --clean-output: anti-join every recorded run's error-level
    entity ids (the violations sink) away from the input.

    Sink-based (not this-run-based) on purpose: an --incremental run
    revalidates only changed partitions, and rows flagged by EARLIER
    runs must stay out of the 'passing rows only' output.
    Conservative by design: a row flagged in any run stays excluded
    until its partition is revalidated clean AND the stale run's sink
    rows are compacted/pruned."""
    import os

    from anomaly_detection_toolkit_spark.plans.runner import clean_table

    if args.violations_cap is not None:
        print(
            "clean table WARNING: --violations-cap keeps only "
            "exemplar violation rows, so error rows beyond the cap "
            "will NOT be removed from the clean output — drop the "
            "cap when the clean table must be complete"
        )
    if args.format == "iceberg":
        src = read_table(spark, args.input, snapshot_id=args.snapshot_id)
    else:
        src = spark.read.parquet(args.input)
    vpath = os.path.join(args.output, "violations")
    if os.path.isdir(vpath):
        all_viol = spark.read.option("mergeSchema", "true").parquet(vpath)
        cleaned = clean_table(src, all_viol, entity_col=args.clean_entity_col)
    else:  # no violations ever recorded: everything passes
        cleaned = src
    (
        cleaned.write.mode("overwrite")
        .partitionBy(args.part_col)
        .parquet(args.clean_output)
    )
    n_clean = spark.read.parquet(args.clean_output).count()
    print(f"clean table: {n_clean} passing rows -> {args.clean_output}")


def _compact(spark, args) -> None:
    """See --compact-sinks: rewrite each append-mode sink as one
    parquet file via ``plans.runner.compact_sinks``. A sink that a
    concurrent run appended to mid-compaction is skipped (reported
    here), not silently dropped — rerun when the writer is done."""
    from anomaly_detection_toolkit_spark.plans.runner import compact_sinks

    done = compact_sinks(spark, args.output)
    if not done:
        print("compact: no sinks found")
        return
    for sink, (rows, files) in sorted(done.items()):
        if rows == -1:
            print(
                f"compact: {sink} SKIPPED — concurrent append detected "
                f"({files} files now); rerun --compact-sinks when the "
                "other run finishes"
            )
        else:
            print(f"compact: {sink} {files} files -> 1 ({rows} rows)")


def _run_history_drift(spark, args) -> None:
    """Score the newest run's metrics against prior runs' (see
    plans/history.py). mergeSchema tolerates metrics written before
    the run_seq lineage columns existed (their rows read as NULL and
    drop out of the history via the run_seq < current filter)."""
    import os

    from pyspark.sql import functions as F

    from anomaly_detection_toolkit_spark.plans.history import (
        history_drift,
        history_violations,
        restrict_to_recorded_runs,
    )

    metrics = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(args.output, "metrics"))
    )
    if "run_seq" not in metrics.columns:
        print("history-drift: metrics sink has no run_seq lineage yet")
        return
    # a crashed job can leave sink rows tagged with a burned run_seq
    # the ledger never recorded — those partial-run rows must not
    # count as a full run in every future baseline (see
    # plans.history.restrict_to_recorded_runs)
    runs = Ledger(os.path.join(args.output, "_ledger")).load().get("runs", [])
    recorded = {int(r["run_seq"]) for r in runs if r.get("run_seq") is not None}
    metrics = restrict_to_recorded_runs(metrics, recorded)
    n_runs = metrics.select("run_seq").where(F.col("run_seq").isNotNull()).distinct().count()
    if n_runs < 2:
        print(f"history-drift: {n_runs} tagged run(s) — nothing to compare yet")
        return
    scored = history_drift(
        metrics,
        z_threshold=args.history_z,
        iqr_k=args.history_iqr_k,
        min_history=args.history_min_runs,
        rolling_window=args.history_window,
        current_seq=(
            metrics.agg(F.max("run_seq")).first()[0]
            if args.history_window is not None
            else None
        ),
    ).persist()
    scored.write.mode("append").parquet(os.path.join(args.output, "history_drift"))
    # flagged cells ALSO land in the main violations sink (tagged with
    # the scored run's lineage) so one consumer sees every finding —
    # report.py's newest-run section includes them alongside the
    # in-run checks
    cur = scored.agg(F.max("run_seq")).first()[0]
    if cur is None:
        print("history-drift: no scorable cells")
        scored.unpersist()
        return
    snap_id = next(
        (str(r["snapshot_id"]) for r in reversed(runs)
         if int(r.get("run_seq", -1)) == int(cur)),
        None,
    )
    viol = (
        history_violations(scored)
        .withColumn("run_seq", F.lit(int(cur)))
        .withColumn("snapshot_id", F.lit(snap_id).cast("string"))
    )
    flagged = viol.collect()
    if flagged:  # don't append an empty file set on calm runs
        viol.write.mode("append").parquet(os.path.join(args.output, "violations"))
    print(
        f"history-drift: scored {scored.count()} cells vs history, "
        f"{len(flagged)} drifted"
    )
    for r in flagged[:20]:
        print(
            f"  DRIFT check={r['entity_id']} metric={r['column']} "
            f"part={r['part']} value={r['value']} ({r['message']})"
        )
    scored.unpersist()


if __name__ == "__main__":
    raise SystemExit(main())
