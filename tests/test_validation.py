"""End-to-end validation suite tests over the F1 image table:
each injected defect class is caught by exactly the intended check,
per-partition verdicts use the -1/+1 encoding, and the ledger makes
re-runs resumable + idempotent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark.plans import checks as C
from anomaly_detection_toolkit_spark.plans import runner as R
from anomaly_detection_toolkit_spark.sources import images

N = 3000
N_PARTS = 8


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("imgs") / "t")
    images.write_images(spark, path, N, n_parts=N_PARTS)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def truth(table):
    return table.select("image_id", "defect", "part").toPandas()


def test_uniqueness_image_id(table, truth):
    out = C.UniquenessCheck("image_id").run(table)
    v = out.violations.toPandas()
    dup_ids = set(truth.loc[truth["defect"] == "dup_image_id", "image_id"])
    assert dup_ids  # fixture injected some
    assert dup_ids <= set(v["entity_id"])  # every dup id flagged
    # both rows of each duplicate pair are violations
    assert len(v) >= 2 * len(dup_ids)
    m = out.metrics.toPandas().set_index("metric")["value"]
    assert m["n_dup_keys"] >= len(dup_ids)
    assert m["max_key_count"] >= 2


def test_uniqueness_phash_hot_bucket(table, truth):
    out = C.UniquenessCheck("phash").run(table)
    v = out.violations.toPandas()
    hot = truth[truth["defect"] == "hot_phash"]
    assert len(hot) > 3
    assert set(hot["image_id"]) <= set(v["entity_id"])
    m = out.metrics.toPandas().set_index("metric")["value"]
    assert m["max_key_count"] >= len(hot)  # the skewed hot key


def test_referential_orphans(table, truth):
    out = C.ReferentialCheck().run(table)
    v = out.violations.toPandas()
    orphans = truth[truth["defect"] == "orphan_caption"]
    assert len(orphans) > 0
    assert set(orphans["image_id"]) == set(v["entity_id"])


def test_payload_check(table, truth):
    out = C.PayloadCheck().run(table)
    v = out.violations.toPandas()
    by_kind = {
        "corrupt_bytes": v[v["message"].str.startswith("decode failed")],
        "caption_bad": v[v["message"] == "caption mismatch"],
    }
    for kind, sub in by_kind.items():
        expected = set(truth.loc[truth["defect"] == kind, "image_id"])
        assert expected <= set(sub["entity_id"]), kind
    nulls = set(truth.loc[truth["defect"] == "null_bytes", "image_id"])
    assert nulls <= set(v[v["message"].str.contains("null payload")]["entity_id"])
    # clean rows produce NO payload violations (orphan captions still
    # match the template of the id they name, dup ids decode fine)
    clean = set(truth.loc[truth["defect"].isna(), "image_id"])
    flagged = set(v["entity_id"])
    assert not (clean - set(truth.loc[truth["defect"].notna(), "image_id"])) & flagged


def test_column_stats_nulls(table, truth):
    out = C.ColumnStatsCheck(
        {"w": {"max_null_rate": 0.0001}, "h": {"max_null_rate": 0.0001}}
    ).run(table)
    v = out.violations.toPandas()
    null_parts = set(truth.loc[truth["defect"] == "null_dims", "part"])
    assert null_parts
    assert null_parts == set(v.loc[v["column"] == "w", "part"])
    m = out.metrics.toPandas()
    assert {"w.null_rate", "w.mean", "h.stddev"} <= set(m["metric"].unique())


def test_column_stats_quantiles(table):
    pdf = table.select("part", "w").toPandas()
    exact_p90 = pdf.groupby("part")["w"].quantile(0.9)  # linear interp
    bound = float(exact_p90.median())
    # fractional percentile: tag contains a dot — must not be parsed
    # as a nested-field reference in the generated stat column
    out = C.ColumnStatsCheck(
        {"w": {"p90_max": bound, "p50_min": -1.0, "p99.5_max": 1e18}}
    ).run(table)
    assert "w.p99.5" in set(out.metrics.toPandas()["metric"])
    m = out.metrics.toPandas()
    got = m[m["metric"] == "w.p90"].set_index("part")["value"]
    for p, v in exact_p90.items():
        assert abs(got[p] - v) < 1e-9, p  # Spark percentile == pandas linear
    assert "w.p50" in set(m["metric"])
    # exactly the partitions whose p90 breaches the bound are flagged
    viol = out.violations.toPandas()
    assert set(viol["part"]) == set(exact_p90[exact_p90 > bound].index)
    # sketch path (the 10^12-row plan): mergeable partials, value
    # lands on a real order statistic inside the p85..p95 band
    out2 = C.ColumnStatsCheck({"w": {"p90_max": bound}}, approx=True).run(table)
    got2 = (
        out2.metrics.toPandas()
        .pipe(lambda d: d[d["metric"] == "w.p90"])
        .set_index("part")["value"]
    )
    lo = pdf.groupby("part")["w"].quantile(0.85)
    hi = pdf.groupby("part")["w"].quantile(0.95)
    for p in exact_p90.index:
        assert lo[p] <= got2[p] <= hi[p], p


def test_drift_detects_drifted_partitions(table, truth):
    out = C.DriftCheck().run(table)
    v = out.violations.toPandas()
    drifted = set(truth.loc[truth["defect"] == "drift", "part"])
    assert drifted
    flagged = set(v["part"])
    assert drifted <= flagged
    # non-drifted partitions should not all be flagged
    assert len(flagged) < N_PARTS


def test_schema_check(table):
    ok = C.SchemaCheck({"image_id": "string", "phash": "bigint"}).run(table)
    assert ok.violations.count() == 0
    bad = C.SchemaCheck({"missing_col": "string", "w": "string"}).run(table)
    v = bad.violations.toPandas()
    assert set(v["column"]) == {"missing_col", "w"}


def test_run_suite_verdicts(table, truth):
    result = R.run_suite(table, C.default_suite())
    verd = result.verdicts.toPandas()
    assert set(verd["verdict"].unique()) <= {-1, 1}
    assert len(verd) == len(result.parts_checked) * len(C.default_suite())
    # a partition with an injected dup fails uniqueness_image_id
    dup_parts = set(truth.loc[truth["defect"] == "dup_image_id", "part"])
    failed = set(
        verd[(verd["check"] == "uniqueness_image_id") & (verd["verdict"] == -1)]["part"]
    )
    assert dup_parts <= failed
    # drift violations are warnings → drift cells stay verdict=+1
    drift_cells = verd[verd["check"] == "drift"]
    assert (drift_cells["verdict"] == 1).all()
    assert (drift_cells["n_warnings"] > 0).any()


def test_clean_table_all_pass(spark):
    df = images.generate_images(spark, 800, n_parts=4, cfg=images.CLEAN)
    result = R.run_suite(df, C.default_suite())
    verd = result.verdicts.toPandas()
    assert (verd["verdict"] == 1).all()
    assert result.violations.filter(F.col("level") == "error").count() == 0


def test_resumable_ledger(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 1000, n_parts=4)
    suite = [C.UniquenessCheck("image_id"), C.ReferentialCheck()]

    r1 = R.run_validation_job(spark, src, out, checks=suite)
    assert r1 is not None and r1.parts_checked == [0, 1, 2, 3]
    # idempotent: second run does nothing
    r2 = R.run_validation_job(spark, src, out, checks=suite)
    assert r2 is None
    # simulate partial completion → only the remainder is planned
    led = R.Ledger(f"{out}/_ledger")
    state = led.load()
    state["completed_parts"] = [0, 1]
    led.save(state)
    r3 = R.run_validation_job(spark, src, out, checks=suite)
    assert r3 is not None and r3.parts_checked == [2, 3]
    # snapshot change → full re-run planned
    snap = R.snapshot_id(src)
    state = led.load()
    assert state["snapshot_id"] == snap
    state["snapshot_id"] = "stale"
    led.save(state)
    r4 = R.run_validation_job(spark, src, out, checks=suite)
    assert r4 is not None and r4.parts_checked == [0, 1, 2, 3]


def test_incremental_ledger_revalidates_only_changed_parts(spark, tmp_path):
    """Iceberg-incremental-scan analogue: appending or rewriting one
    ``part=`` directory must re-validate only that partition, not the
    history — the property that makes the ledger usable on an
    append-mostly 10^12-row table where the snapshot id changes on
    every ingest."""
    import os
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 800, n_parts=4)
    suite = [C.ReferentialCheck()]

    r1 = R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    assert r1 is not None and r1.parts_checked == [0, 1, 2, 3]
    # idempotent on an unchanged snapshot
    assert R.run_validation_job(spark, src, out, checks=suite, incremental=True) is None

    # APPEND a new partition directory → snapshot changes, but only
    # the new partition is planned
    shutil.copytree(f"{src}/part=3", f"{src}/part=4")
    r2 = R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    assert r2 is not None and r2.parts_checked == [4]

    # REWRITE one existing partition (extra file → fingerprint change)
    # → only that partition is planned
    f0 = next(f for f in os.listdir(f"{src}/part=1") if f.endswith(".parquet"))
    shutil.copy(f"{src}/part=1/{f0}", f"{src}/part=1/part-extra.parquet")
    r3 = R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    assert r3 is not None and r3.parts_checked == [1]

    # ledger state: every partition completed, fingerprints recorded
    state = R.Ledger(f"{out}/_ledger").load()
    assert state["completed_parts"] == [0, 1, 2, 3, 4]
    assert set(state["part_fingerprints"]) == {"0", "1", "2", "3", "4"}
    assert state["snapshot_id"] == R.snapshot_id(src)

    # the NON-incremental path keeps its full-re-run-on-new-snapshot
    # semantics for the same ledger
    f2 = next(f for f in os.listdir(f"{src}/part=2") if f.endswith(".parquet"))
    shutil.copy(f"{src}/part=2/{f2}", f"{src}/part=2/part-extra.parquet")
    r4 = R.run_validation_job(spark, src, out, checks=suite)
    assert r4 is not None and r4.parts_checked == [0, 1, 2, 3, 4]


def test_incremental_ledger_drops_deleted_part(spark, tmp_path):
    """Deleting a ``part=`` directory drops that part from the ledger's
    completed set (and its fingerprint) on the next recorded advance,
    while the untouched part carries."""
    import os
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 300, n_parts=3)
    suite = [C.ReferentialCheck()]
    r1 = R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    assert r1 is not None and r1.parts_checked == [0, 1, 2]

    shutil.rmtree(f"{src}/part=2")
    f0 = next(f for f in os.listdir(f"{src}/part=1") if f.endswith(".parquet"))
    shutil.copy(f"{src}/part=1/{f0}", f"{src}/part=1/part-extra.parquet")
    r2 = R.run_validation_job(spark, src, out, checks=suite, incremental=True)
    assert r2 is not None and r2.parts_checked == [1]
    state = R.Ledger(f"{out}/_ledger").load()
    assert state["completed_parts"] == [0, 1]
    assert set(state["part_fingerprints"]) == {"0", "1"}


def test_northstar_oracle_assumptions(spark):
    """Pin the two dataset-level facts the flagship's ground-truth
    DuckDB oracle (entry_suite._NORTHSTAR_SQL) relies on at the
    contract configuration (n=2000, seed=42, n_parts=4):

    1. the only repeated phash values are the injected hot-key group
       (i % 211 == 13) and the dup-image pairs (i % 401 == 17) — no
       NATURAL 64-bit collisions among clean rows;
    2. the phash-mod-64 histogram's per-part KS vs global stays below
       the 0.15 drift threshold, so only w/h/fmt drift-warn.
    """
    import numpy as np

    df = images.generate_images(spark, 2000, seed=42, n_parts=4)
    pdf = df.select("phash", "part").toPandas()
    # -- fact 1: dup-group membership is exactly hot ∪ dup-pairs
    counts = pdf["phash"].value_counts()
    dup_rows = int(counts[counts > 1].sum())
    hot = [i for i in range(2000) if i % 211 == 13]
    pairs = [i for i in range(1, 2000) if i % 401 == 17]
    assert int(counts.max()) == len(hot)  # the hot group is the biggest
    assert dup_rows == len(hot) + 2 * len(pairs)
    # -- fact 2: phash-mod-64 per-part KS below threshold
    pdf["bucket"] = pdf["phash"] % 64
    glob = pdf["bucket"].value_counts(normalize=True).sort_index()
    buckets = glob.index
    gcdf = np.cumsum(glob.reindex(buckets, fill_value=0.0).to_numpy())
    for part, grp in pdf.groupby("part"):
        p = grp["bucket"].value_counts(normalize=True).reindex(
            buckets, fill_value=0.0
        ).sort_index()
        ks = float(np.max(np.abs(np.cumsum(p.to_numpy()) - gcdf)))
        assert ks < 0.15, f"part {part} phash KS {ks}"


def test_validate_cli_compact_sinks(spark, tmp_path):
    """validate.py --compact-sinks must compact after validation.
    Regression: a refactor once dropped the _compact helper while both
    call sites remained, so every --compact-sinks run crashed with
    NameError AFTER the validation work finished — only a CLI-level
    test catches that."""
    import subprocess
    import sys
    from pathlib import Path

    from anomaly_detection_toolkit_spark.sources import images

    repo = Path(__file__).resolve().parent.parent
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    images.write_images(spark, src, 200, n_parts=2)
    res = subprocess.run(
        [
            sys.executable,
            str(repo / "validate.py"),
            "--input", src,
            "--output", out,
            "--compact-sinks",
        ],
        capture_output=True,
        text=True,
        cwd=str(repo),
        timeout=420,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-2000:]
    assert "compact: verdicts" in res.stdout
    # sinks stay readable through the post-compaction symlink layout
    assert spark.read.parquet(f"{out}/verdicts").count() > 0
    assert spark.read.parquet(f"{out}/metrics").count() > 0


def test_validate_cli_clean_output(spark, tmp_path):
    """validate.py --clean-output writes the passing-rows-only table:
    every error-level entity id from the run's violations is absent,
    everything else survives, partitioned by part."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    from anomaly_detection_toolkit_spark.sources import images

    repo = Path(__file__).resolve().parent.parent
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    clean = str(tmp_path / "clean")
    images.write_images(spark, src, 400, n_parts=2)
    res = subprocess.run(
        [
            sys.executable,
            str(repo / "validate.py"),
            "--input", src,
            "--output", out,
            "--clean-output", clean,
        ],
        capture_output=True,
        text=True,
        cwd=str(repo),
        timeout=420,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-2000:]
    assert "clean table:" in res.stdout
    cleaned = spark.read.parquet(clean)
    n_in = spark.read.parquet(src).count()
    assert 0 < cleaned.count() < n_in  # defects exist and were removed
    bad = {
        r["entity_id"]
        for r in spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/violations")
        .where("level = 'error' and entity_id is not null")
        .collect()
    }
    assert bad  # the generator plants defects
    kept = {r["image_id"] for r in cleaned.select("image_id").collect()}
    assert not (bad & kept)
    assert "part" in cleaned.columns  # partitioned layout readable
