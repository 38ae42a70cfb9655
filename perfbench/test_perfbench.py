"""Tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import MAX_LATE_S, WATERMARK_S, Shape, write_topics  # noqa: E402
from mood import compare_documents, expected_documents  # noqa: E402
from spans import Span, Tracer, layer_totals, self_seconds  # noqa: E402

SMALL = Shape(keys=4, minutes=6, traffic_per_minute=300)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, "query", "plans", 0.0, 10.0),
        Span(1, 0, "op_a", "operators.dedup", 1.0, 4.0),
        Span(2, 0, "op_b", "operators.dedup", 3.0, 6.0),  # overlaps op_a by 1 s
        Span(3, 2, "load", "sources", 5.0, 5.5),
        Span(4, 0, "late", "operators.graph", 9.5, 12.0),  # clipped to the parent's end
    ]
    own = self_seconds(spans)
    assert own[0] == 10.0 - (5.0 + 0.5)
    assert own[1] == 3.0
    assert own[2] == 2.5
    assert own[3] == 0.5
    totals = layer_totals(spans)
    assert totals["operators.dedup"]["self_s"] == 5.5
    assert totals["operators.dedup"]["calls"] == 2
    assert totals["plans"]["total_s"] == 10.0


def test_total_counts_only_outermost_span_of_a_layer():
    spans = [
        Span(0, None, "outer", "operators.graph", 0.0, 4.0),
        Span(1, 0, "inner", "operators.graph", 1.0, 3.0),
        Span(2, None, "again", "operators.graph", 5.0, 6.0),
    ]
    t = layer_totals(spans)["operators.graph"]
    assert t["total_s"] == 5.0
    assert t["self_s"] == 5.0
    assert t["calls"] == 3


def test_tracer_records_parents_and_restores_bindings():
    import types

    mod = types.ModuleType("fakepkg.mod")

    def inner():
        return 1

    def outer():
        return mod.inner() + 1

    mod.inner, mod.outer = inner, outer
    sys.modules["fakepkg.mod"] = mod
    try:
        tracer = Tracer()
        tracer.patch(inner, "inner", "leaf", "fakepkg")
        tracer.patch(outer, "outer", "root", "fakepkg")
        assert mod.outer() == 2
        by_name = {s.name: s for s in tracer.spans}
        assert by_name["inner"].parent == by_name["outer"].id
        assert by_name["outer"].parent is None
        tracer.restore()
        assert mod.inner is inner and mod.outer is outer
    finally:
        del sys.modules["fakepkg.mod"]


def test_generator_is_deterministic(tmp_path):
    a = write_topics(str(tmp_path / "a"), SMALL, seed=7)
    b = write_topics(str(tmp_path / "b"), SMALL, seed=7)
    c = write_topics(str(tmp_path / "c"), SMALL, seed=8)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a["events"] == c["events"]  # another seed, the same shape


def test_out_of_order_stays_inside_the_watermark(tmp_path):
    info = write_topics(str(tmp_path), SMALL, seed=3)
    assert info["late_events"] > 0
    assert 0 < info["max_behind_s"] <= MAX_LATE_S < WATERMARK_S
    with open(tmp_path / "traffic" / "part-00002.json") as fh:
        stamps = [json.loads(line)["timestamp"] for line in fh]
    assert stamps != sorted(stamps)  # shuffled within the file
    assert min(stamps) >= "2026-01-05 08:01:00"  # at most 60 s before minute 2


def test_planted_wrong_document_is_caught(tmp_path):
    info = write_topics(str(tmp_path), SMALL, seed=5)
    expected = expected_documents(str(tmp_path), info["newest"])
    assert expected
    docs = [dict(d) for d in expected.values()]
    assert compare_documents(docs, expected)[:2] == (len(expected), 0)

    wrong = [dict(d) for d in docs]
    wrong[0]["mood"] = "relaxed" if wrong[0]["mood"] != "relaxed" else "tense"
    assert compare_documents(wrong, expected)[1] == 1

    skewed = [dict(d) for d in docs]
    skewed[1]["avg_speed"] = skewed[1]["avg_speed"] + 1e-9
    assert compare_documents(skewed, expected)[1] == 1

    assert compare_documents(docs[1:], expected)[1] == 1  # one missing
    assert compare_documents(docs + docs[:1], expected)[1] == 1  # one replayed twice
    extra = dict(docs[0], intersection="nowhere")
    assert compare_documents(docs + [extra], expected)[:2] == (len(expected) + 1, 1)


def test_expected_documents_follow_the_mood_rule(tmp_path):
    info = write_topics(str(tmp_path), SMALL, seed=11)
    for d in expected_documents(str(tmp_path), info["newest"]).values():
        if d["sentiment"] == "negative":
            assert d["mood"] == "tense"
        elif d["avg_speed"] > 60 and d["weather"] in ("clear", "mainly_clear", "partly_cloudy"):
            assert d["mood"] == "relaxed"
        assert d["event_time"] < info["newest"]


def test_traced_run_reports_every_per_layer_metric():
    """Both workload kinds print exactly the per_layer list of BENCHMARK.json."""
    import types

    from traced import per_layer

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    counters = dict.fromkeys(
        ["executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "exec_s", "jobs", "stages", "tasks", "failed_tasks"], 1.0)
    trigger = {
        "batchId": 1, "numInputRows": 10, "durationMs": {"addBatch": 5},
        "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 9, "numRowsUpdated": 2,
                            "commitTimeMs": 1, "numRowsDroppedByWatermark": 0}],
    }
    for kind, progress in (("stream", [trigger]), ("batch", [])):
        out = per_layer(types.SimpleNamespace(kind=kind), Tracer(), counters, {}, progress, 0,
                        {"ref": (1.0, 1.0), "ref_local1": (1.0, 1.0)}, 1.0, 1.0, 0.2)
        assert set(out) | {"peak_rss_mb", "failed_share"} == names
