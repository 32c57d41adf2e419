"""The benchmark's workloads: input set-up, one job, the job's output
check, the traced-job patch list and the per-layer isolations.

``validate_full`` runs ``validate.main`` over a generated image+caption
table; ``curate_corpus`` runs ``curate.main`` over a seeded corpus.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

import corpus

# --- validate_full --------------------------------------------------------

IMAGES = 8000
IMAGE_PARTS = 32
# PayloadCheck's default reference regenerates pixels with generator
# seed 42 (plans/checks.py, sources/images.py): any other pixel seed
# would flag every row, so the table is the same for every benchmark
# seed and is built once per checkout
PIXEL_SEED = 42
CODEC_SAMPLE = 300

# defect label -> the check sources/images.py's defect table names
DEFECT_CHECK = {
    "hot_phash": "uniqueness_phash",
    "dup_image_id": "uniqueness_image_id",
    "orphan_caption": "referential_caption",
    "corrupt_bytes": "payload",
    "null_bytes": "payload",
    "caption_bad": "payload",
    "null_dims": "column_stats",
    "drift": "drift",
}
# these checks flag a partition, not a row
PART_LEVEL = {"null_dims", "drift"}
CHECK_NAMES = (
    "schema",
    "column_stats",
    "uniqueness_image_id",
    "uniqueness_phash",
    "referential_caption",
    "drift",
    "payload",
)

# --- curate_corpus --------------------------------------------------------

DOCS = 8000
MAX_BUCKET = 256
JACCARD = 0.5  # curate.py's --jaccard default
CURATE_FLAGS = [
    "--near-dup",
    "--max-bucket",
    str(MAX_BUCKET),
    "--langs",
    ",".join(f"{k}={v}" for k, v in corpus.RATES.items()),
    "--default-rate",
    str(corpus.DEFAULT_RATE),
]
CURATE_STEPS = (
    "dedup.exact",
    "dedup.lsh_pairs",
    "dedup.components",
    "text.quality",
    "curation.sample",
    "curation.pack",
    "curation.chunks",
)


def quiet(fn, *args):
    """Call ``fn`` with its stdout captured (the benchmark's own stdout
    must end with the result line)."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_dataset(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )


def _source_key(repo: str, files: list[str], extra: str) -> str:
    import hashlib

    h = hashlib.sha256(extra.encode())
    for rel in files:
        with open(os.path.join(repo, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class ValidateFull:
    name = "validate_full"
    rows = IMAGES

    def __init__(self, repo: str, work: str, cache: str, seed: int):
        self.seed = seed
        key = _source_key(
            repo,
            [
                "anomaly_detection_toolkit_spark/sources/images.py",
                "anomaly_detection_toolkit_spark/functions/codecs.py",
            ],
            f"{IMAGES}:{IMAGE_PARTS}:{PIXEL_SEED}",
        )
        self.table_cache = os.path.join(cache, f"images-{key}")
        self.input = os.path.join(work, "images")
        self.output = os.path.join(work, "out")
        self._expected = None

    def build_cache(self, spark) -> float | None:
        """Generate the image table once per checkout; returns the
        generation time when it ran."""
        if os.path.isdir(self.table_cache):
            return None
        from anomaly_detection_toolkit_spark.sources import images

        tmp = f"{self.table_cache}.tmp{os.getpid()}"
        t0 = time.perf_counter()
        images.write_images(
            spark, tmp, IMAGES, seed=PIXEL_SEED, n_parts=IMAGE_PARTS, files_per_part=1
        )
        dt = time.perf_counter() - t0
        os.replace(tmp, self.table_cache)
        return dt

    def materialize_input(self) -> None:
        shutil.rmtree(self.input, ignore_errors=True)
        shutil.copytree(self.table_cache, self.input)

    def reset(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)

    def job(self) -> None:
        import validate

        rc = quiet(validate.main, ["--input", self.input, "--output", self.output])
        if rc != 0:
            raise RuntimeError(f"validate.main returned {rc}")

    def expected(self) -> dict:
        if self._expected is None:
            t = _read_dataset(self.table_cache, ["image_id", "defect", "part"])
            rows: dict[str, set] = {}
            parts: dict[str, set] = {}
            for image_id, defect, part in zip(*(t[c].to_pylist() for c in t.column_names)):
                if defect is None:
                    continue
                check = DEFECT_CHECK[defect]
                if defect in PART_LEVEL:
                    parts.setdefault(check, set()).add(int(part))
                else:
                    rows.setdefault(check, set()).add(image_id)
            self._expected = {"rows": rows, "parts": parts}
        return self._expected

    def check(self) -> list[str]:
        """Every labelled row flagged by its check; a parts x 7 verdict
        grid. Returns the list of failures (empty = correct)."""
        exp = self.expected()
        v = _read_dataset(os.path.join(self.output, "violations"), ["check", "entity_id", "part"])
        flagged_rows, flagged_parts = set(), set()
        for check, entity, part in zip(*(v[c].to_pylist() for c in v.column_names)):
            flagged_rows.add((check, entity))
            flagged_parts.add((check, part))
        bad = []
        for check, ids in exp["rows"].items():
            missed = sum((check, i) not in flagged_rows for i in ids)
            if missed:
                bad.append(f"{check}: {missed} of {len(ids)} labelled rows not flagged")
        for check, ps in exp["parts"].items():
            missed = sum((check, p) not in flagged_parts for p in ps)
            if missed:
                bad.append(f"{check}: {missed} of {len(ps)} labelled parts not flagged")
        cells = _read_dataset(os.path.join(self.output, "verdicts"), ["check"]).num_rows
        if cells != IMAGE_PARTS * len(CHECK_NAMES):
            bad.append(f"verdict grid has {cells} cells, want {IMAGE_PARTS * len(CHECK_NAMES)}")
        return bad

    def trace_targets(self) -> list[tuple[object, str, str]]:
        import validate
        from anomaly_detection_toolkit_spark.plans import runner
        from pyspark.sql.readwriter import DataFrameWriter

        ledger = [
            (runner.Ledger, m, "runner.ledger")
            for m in ("load", "save", "remaining_parts", "record", "reserve_run_seq")
        ]
        return [
            (validate, "run_validation_job", "runner.job"),
            (runner, "snapshot_id", "runner.snapshot"),
            (runner, "run_suite", "runner.suite"),
            (DataFrameWriter, "parquet", "runner.sink_write"),
            *ledger,
        ]

    def layers(self, spark, metrics: dict) -> None:
        """Each default check in isolation on the whole table, then all of
        them fused (warm: they run after the traced job), then the payload
        kernel per image in this process."""
        from sparkstats import GroupCounter, plan_metric

        from anomaly_detection_toolkit_spark.plans.checks import default_suite
        from anomaly_detection_toolkit_spark.plans.runner import run_suite

        df = spark.read.parquet(self.input)
        iso_sum, viol_rows = 0.0, 0
        for i, check in enumerate(default_suite()):
            counter = GroupCounter(spark, f"check-{i}")
            t0 = time.perf_counter()
            out = check.run(df)
            noop_write(out.violations)
            noop_write(out.metrics)
            dt = time.perf_counter() - t0
            c = counter.counts(shuffle=True)
            viol_rows += out.violations.count()
            if check.name == "payload":
                pm = plan_metric(out.violations, ("pythonTotalTime", "pythonDataSent"))
                metrics["checks.payload.python_s"] = pm["pythonTotalTime"] / 1000
                metrics["checks.payload.python_bytes_sent"] = pm["pythonDataSent"]
            for d in out.cached:
                d.unpersist()
            spark.catalog.clearCache()
            counter.close()
            metrics[f"checks.{check.name}_s"] = dt
            metrics[f"checks.{check.name}.tasks"] = c.tasks
            metrics[f"checks.{check.name}.shuffle_bytes"] = c.shuffle_bytes
            iso_sum += dt
        # the same checks fused by run_suite, outputs materialized as the
        # runner's sink writes would (warm too, so the ratio compares
        # like with like; the traced job's runner.suite_s +
        # runner.sink_write_s is the JIT-cold equivalent)
        t0 = time.perf_counter()
        res = run_suite(df, default_suite())
        for out_df in (res.verdicts, res.violations, res.metrics):
            noop_write(out_df)
        fused = time.perf_counter() - t0
        res.unpersist()
        spark.catalog.clearCache()
        metrics["checks.isolated_sum_s"] = iso_sum
        metrics["checks.fused_s"] = fused
        metrics["checks.fusion_ratio"] = fused / iso_sum
        metrics["checks.violation_rows"] = viol_rows
        self._codec_layer(metrics)

    def _codec_layer(self, metrics: dict) -> None:
        """Per-image cost of each step of PayloadCheck's kernel, timed in
        this process on a seeded sample of the table: Arrow -> pandas,
        decode (also per format), reference pixels, compare, caption."""
        import numpy as np
        import pyarrow as pa

        from anomaly_detection_toolkit_spark.functions import codecs
        from anomaly_detection_toolkit_spark.sources import images

        t = _read_dataset(self.input, ["image_id", "bytes", "fmt", "caption", "part"])
        rng = np.random.Generator(np.random.PCG64(self.seed))
        idx = np.sort(rng.choice(t.num_rows, size=min(CODEC_SAMPLE, t.num_rows), replace=False))
        sample = pa.Table.from_batches(t.take(pa.array(idx)).to_batches())
        n = sample.num_rows
        t0 = time.perf_counter()
        pdf = sample.to_pandas()
        to_pandas = time.perf_counter() - t0
        dec_t = {f: [] for f in codecs.FORMATS}
        ref_t = cmp_t = cap_t = 0.0
        for image_id, buf, fmt, caption in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["caption"]):
            t0 = time.perf_counter()
            try:
                dec = codecs.decode(buf, fmt)
            except codecs.CodecError:
                dec = None
            t1 = time.perf_counter()
            dec_t[fmt].append(t1 - t0)
            if dec is not None:
                h, w = dec.shape[:2]
                ref = images.gen_pixels(images.id_num(image_id), w, h)
                t2 = time.perf_counter()
                if fmt in codecs.LOSSLESS:
                    np.array_equal(ref, dec)
                else:
                    codecs.psnr(ref, dec)
                t3 = time.perf_counter()
                ref_t += t2 - t1
                cmp_t += t3 - t2
            t4 = time.perf_counter()
            _ = caption == images.caption_of(image_id)
            cap_t += time.perf_counter() - t4
        us = 1e6 / n
        decode = sum(sum(v) for v in dec_t.values())
        metrics["codecs.arrow_to_pandas_us"] = to_pandas * us
        metrics["codecs.decode_us"] = decode * us
        for f, v in dec_t.items():
            metrics[f"codecs.decode.{f}_us"] = 1e6 * sum(v) / len(v) if v else 0.0
        metrics["codecs.reference_us"] = ref_t * us
        metrics["codecs.compare_us"] = cmp_t * us
        metrics["codecs.caption_us"] = cap_t * us
        kernel_us = (to_pandas + decode + ref_t + cmp_t + cap_t) * us
        metrics["codecs.kernel_us"] = kernel_us
        # the kernel's share of the isolated payload stage, assuming the
        # table's rows spread over the session's 4 cores
        kernel_s = kernel_us * IMAGES / 1e6 / 4
        metrics["checks.payload.kernel_est_s"] = kernel_s
        metrics["checks.payload.outside_kernel_share"] = 1 - kernel_s / metrics["checks.payload_s"]


class CurateCorpus:
    name = "curate_corpus"
    rows = DOCS

    def __init__(self, repo: str, work: str, cache: str, seed: int):
        self.seed = seed
        self.input = os.path.join(work, "docs")
        self.output = os.path.join(work, "curated")
        self._cols = None
        self._expected = None

    def build_cache(self, spark) -> float | None:
        return None

    def materialize_input(self) -> None:
        if self._cols is None:
            self._cols = corpus.generate(DOCS, self.seed)
            self._expected = corpus.expected_stats(self._cols)
        shutil.rmtree(self.input, ignore_errors=True)
        corpus.write_parquet(self._cols, self.input)

    def reset(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)

    def job(self) -> None:
        import curate

        rc = quiet(curate.main, ["--input", self.input, "--output", self.output, *CURATE_FLAGS])
        if rc != 0:
            raise RuntimeError(f"curate.main returned {rc}")

    def check(self) -> list[str]:
        with open(os.path.join(self.output, "stats.json")) as f:
            got = json.load(f)
        bad = [
            f"stats.{k}: got {got.get(k)}, want {v}"
            for k, v in self._expected.items()
            if got.get(k) != v
        ]
        docs = _read_dataset(os.path.join(self.output, "documents"), ["doc_id"]).num_rows
        if docs != self._expected["curated"]:
            bad.append(f"documents/ has {docs} rows, want {self._expected['curated']}")
        return bad

    def trace_targets(self) -> list[tuple[object, str, str]]:
        from anomaly_detection_toolkit_spark.operators import curation, dedup, text

        # mostly lazy plan builders: a span holds plan construction plus
        # whatever the call executes eagerly (minhash_lsh_pairs and
        # connected_components checkpoint); the rest of the work runs in
        # curate.main's own actions (the job.main span). layers() times
        # each step's execution on its own.
        return [(mod, fn, f"call.{mod.__name__.rsplit('.', 1)[1]}.{fn}") for mod, fn in (
            (dedup, "exact_duplicates"),
            (dedup, "minhash_lsh_pairs"),
            (dedup, "connected_components"),
            (text, "quality_features"),
            (curation, "stratified_sample"),
            (curation, "pack_documents"),
            (curation, "chunk_assignments"),
        )]

    def layers(self, spark, metrics: dict) -> None:
        """curate.py's steps materialized one at a time, in its order,
        each over the previous step's persisted output."""
        from pyspark.sql import functions as F
        from sparkstats import GroupCounter

        from anomaly_detection_toolkit_spark.operators import curation, dedup, text

        docs = spark.read.parquet(self.input).persist()
        docs.count()
        state: dict = {}

        def step(name, build):
            counter = GroupCounter(spark, name)
            t0 = time.perf_counter()
            out = build().persist()
            out.count()
            metrics[f"{name}_s"] = time.perf_counter() - t0
            c = counter.counts(shuffle=True)
            counter.close()
            metrics[f"{name}.tasks"] = c.tasks
            metrics[f"{name}.shuffle_bytes"] = c.shuffle_bytes
            state[name] = out
            return out

        keep = step("dedup.exact", lambda: dedup.exact_duplicates(docs))
        deduped = docs.join(
            keep.filter(F.col("is_duplicate") == 0).select("doc_id"), "doc_id", "left_semi"
        ).persist()
        # threshold 0 keeps every candidate pair; curate.py's est-Jaccard
        # threshold then picks the kept ones
        candidates = step(
            "dedup.lsh_pairs",
            lambda: dedup.minhash_lsh_pairs(deduped, max_bucket=MAX_BUCKET, threshold=0.0),
        )
        pairs = candidates.filter(F.col("est_jaccard") >= JACCARD)
        n_candidates = candidates.count()
        metrics["dedup.pair_yield"] = pairs.count() / n_candidates if n_candidates else 0.0
        clusters = step("dedup.components", lambda: dedup.connected_components(pairs))
        drop = clusters.filter(F.col("id_a") != F.col("cluster")).select(
            F.col("id_a").alias("doc_id")
        )
        kept = deduped.join(drop, "doc_id", "left_anti")
        quality = step("text.quality", lambda: text.quality_features(kept))
        sample = step(
            "curation.sample",
            lambda: curation.stratified_sample(
                quality, "lang", corpus.RATES, default_fraction=corpus.DEFAULT_RATE
            ),
        )
        packed = step(
            "curation.pack",
            lambda: curation.pack_documents(sample, budget=corpus.BUDGET, token_col="n_tokens"),
        )
        step("curation.chunks", lambda: curation.chunk_assignments(packed, budget=corpus.BUDGET))
        for d in (docs, deduped, *state.values()):
            d.unpersist()
        spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (ValidateFull, CurateCorpus)}

# span names whose self time the traced run reports as ``<span>_s``;
# ``job.main`` is the root span around the whole job
SPANS = (
    "job.main",
    "runner.job",
    "runner.snapshot",
    "runner.ledger",
    "runner.suite",
    "runner.sink_write",
    "call.dedup.exact_duplicates",
    "call.dedup.minhash_lsh_pairs",
    "call.dedup.connected_components",
    "call.text.quality_features",
    "call.curation.stratified_sample",
    "call.curation.pack_documents",
    "call.curation.chunk_assignments",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order. A traced run reports all
    of them; a layer the workload does not call reads 0."""
    names = [
        "session.start_s",
        "sources.generate_s",
        "trace.job_s",
        "trace.overhead_s",
        "job.spark_jobs",
        "job.spark_stages",
        "job.spark_tasks",
        *(f"{s}_s" for s in SPANS),
        "runner.jobs",
        "runner.stages",
        "runner.tasks",
    ]
    for c in CHECK_NAMES:
        names += [f"checks.{c}_s", f"checks.{c}.tasks", f"checks.{c}.shuffle_bytes"]
    names += [
        "checks.isolated_sum_s",
        "checks.fused_s",
        "checks.fusion_ratio",
        "checks.violation_rows",
        "checks.payload.python_s",
        "checks.payload.python_bytes_sent",
        "checks.payload.kernel_est_s",
        "checks.payload.outside_kernel_share",
        "codecs.arrow_to_pandas_us",
        "codecs.decode_us",
        *(f"codecs.decode.{f}_us" for f in ("raw", "ppm", "bmp", "png", "lossyq")),
        "codecs.reference_us",
        "codecs.compare_us",
        "codecs.caption_us",
        "codecs.kernel_us",
    ]
    for s in CURATE_STEPS:
        names += [f"{s}_s", f"{s}.tasks", f"{s}.shuffle_bytes"]
    names.append("dedup.pair_yield")
    return names
