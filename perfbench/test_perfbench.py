"""Tests for the benchmark's own arithmetic (no Spark needed):

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import stats  # noqa: E402
from stats import Span  # noqa: E402
from tracer import Tracer, patched  # noqa: E402
from workloads import CHECK_NAMES, DEFECT_CHECK, per_layer_names  # noqa: E402


def test_median_n_reports_value_and_count():
    assert stats.median_n([3.0, 1.0, 2.0]) == (2.0, 3)
    assert stats.median_n([4.0, 1.0]) == (2.5, 2)
    with pytest.raises(ValueError):
        stats.median_n([])


def test_quartile_spread_uses_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 40.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / med)


def test_ok_ratio_is_one_minus_failed_ratio():
    assert stats.ok_ratio(4, 0) == 1.0
    assert stats.ok_ratio(4, 1) == 0.75
    for attempted, failed in ((0, 0), (2, 3), (2, -1)):
        with pytest.raises(ValueError):
            stats.ok_ratio(attempted, failed)


def test_self_time_subtracts_children_once_and_clips_to_parent():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),  # overlaps a: union covers 1..6
        Span("a.kid", 2.0, 3.0, 1, "r"),
        Span("late", 9.0, 12.0, 0, "r"),  # runs past root: clipped to 9..10
    ]
    assert stats.self_times(spans) == pytest.approx([10.0 - 5.0 - 1.0, 2.0, 3.0, 1.0, 3.0])
    by_name = stats.self_time_by_name(spans + [Span("a", 20.0, 21.0, None, "r")])
    assert by_name["a"] == pytest.approx(3.0)


def test_self_times_of_a_tree_sum_to_the_root_duration():
    spans = [
        Span("root", 0.0, 8.0, None, "r"),
        Span("x", 0.5, 3.0, 0, "r"),
        Span("y", 3.0, 7.5, 0, "r"),
        Span("y.1", 4.0, 5.0, 2, "r"),
    ]
    assert sum(stats.self_times(spans)) == pytest.approx(8.0)


def test_tracer_records_nesting_and_patched_restores():
    mod = types.SimpleNamespace()

    def inner():
        return 7

    def outer():
        return mod.inner() + 1

    mod.inner, mod.outer = inner, outer
    tr = Tracer("run-1")
    with patched(tr, [(mod, "inner", "in"), (mod, "outer", "out")]):
        with tr.span("root"):
            assert mod.outer() == 8
    assert mod.inner is inner and mod.outer is outer
    assert [(s.name, s.parent) for s in tr.spans] == [("root", None), ("out", 0), ("in", 1)]
    assert all(s.run == "run-1" and s.end >= s.start for s in tr.spans)
    assert tr.overhead_s >= 0.0


def test_corpus_is_seeded_and_labelled_by_the_documented_shares():
    a, b = corpus.generate(1000, 5), corpus.generate(1000, 5)
    assert a == b
    assert corpus.generate(1000, 6)["text"] != a["text"]
    kinds = a["kind"]
    assert kinds.count("exact") == 100 and kinds.count("near") == 100
    assert kinds.count("template") == 40


def test_corpus_duplicates_follow_their_base_document():
    c = corpus.generate(2000, 9)
    text_of = dict(zip(c["doc_id"], c["text"]))
    bases = {t: i for i, t, k in zip(c["doc_id"], c["text"], c["kind"]) if k == "base"}
    assert len(bases) == c["kind"].count("base")  # base texts are distinct
    for i, t, k in zip(c["doc_id"], c["text"], c["kind"]):
        if k == "exact":
            assert bases[t] < i
        elif k == "near":
            head, _, extra = t.rpartition(" ")
            assert bases[head] < i and extra == f"n{i}"
    tmpl = [t.split(" ") for t, k in zip(c["text"], c["kind"]) if k == "template"]
    diffs = {sum(x != y for x, y in zip(tmpl[0], t)) for t in tmpl[1:]}
    assert diffs == {1} and all(len(t) == corpus.TEMPLATE_TOKENS for t in tmpl)
    assert all(corpus.MIN_TOKENS <= len(text_of[i].split(" ")) for i in bases.values())


def test_expected_stats_follow_the_duplicate_arithmetic():
    c = corpus.generate(5000, 3)
    exp = corpus.expected_stats(c)
    kinds = c["kind"]
    assert exp["input"] == 5000
    assert exp["after_dedup"] == exp["after_quality"] == kinds.count("base") + kinds.count("template")
    assert exp["after_dedup"] == 5000 - 500 - 500
    assert exp["curated"] == exp["after_mixture"]
    assert exp["chunks"] == math.ceil(exp["tokens"] / corpus.BUDGET)
    # hash-keyed sampling keeps close to the configured rates
    rate = exp["after_mixture"] / exp["after_dedup"]
    want = 0.5 * 0.6 + 0.3 * 0.4 + 0.2 * 0.3
    assert abs(rate - want) < 0.05


def test_sample_draw_is_the_documented_md5_prefix_rule():
    import hashlib

    h = hashlib.md5(b"17:").hexdigest()
    assert corpus.sample_draw(17) == int(h[:15], 16) % 1_000_000
    assert corpus.sample_draw(17, "s") != corpus.sample_draw(17)


def test_benchmark_json_lists_every_reported_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    assert len(set(per_layer_names())) == len(per_layer_names())
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "job_s", "rows_per_s", "cpu_s", "peak_py_rss_mb", "ok_ratio"
    }
    assert {w["name"] for w in spec["workloads"]} == {"validate_full", "curate_corpus"}


def test_defect_map_names_only_default_checks():
    assert set(DEFECT_CHECK.values()) <= set(CHECK_NAMES)
    assert len(CHECK_NAMES) == 7
