"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest etlbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from etlbench import digest, host, inputs, stats, trace  # noqa: E402


# -- corpus ------------------------------------------------------------------
def _shape(plan: dict) -> list:
    """What must not depend on the seed: per response, the cell kinds
    and pixel sizes in order of kind."""
    cells = [c for r in plan["responses"] for c in r["cells"] if c]
    return sorted((c["kind"], c.get("w"), c.get("h")) for c in cells), len(plan["responses"])


def test_same_seed_same_plan_and_truth():
    a, b = inputs.plan_corpus(5), inputs.plan_corpus(5)
    assert a == b
    assert inputs.truth(a) == inputs.truth(b)


def test_other_seed_same_counts_and_size_mix():
    a, b = inputs.plan_corpus(1), inputs.plan_corpus(2)
    assert a["projects"] != b["projects"]
    assert _shape(a) == _shape(b)
    ta, tb = inputs.truth(a), inputs.truth(b)
    counts = [k for k in ta if k not in ("committed", "groups")]
    assert {k: ta[k] for k in counts} == {k: tb[k] for k in counts}
    assert sorted(ta["committed"].values()) == sorted(tb["committed"].values())
    assert ta["committed"].keys() != tb["committed"].keys()
    for t in (ta, tb):
        assert len(t["groups"]) == inputs.PROJECTS * (inputs.HISTORY_WEEKS + 1)
        assert sum(t["groups"].values()) == t["catalog_rows_after"]


def test_new_week_labels_change_keys_not_counts():
    plan = inputs.plan_corpus(6)
    a, b = inputs.truth(inputs.as_week(plan, 0)), inputs.truth(inputs.as_week(plan, 2))
    assert a == inputs.truth(plan)
    counts = [k for k in a if k not in ("committed", "groups")]
    assert {k: a[k] for k in counts} == {k: b[k] for k in counts}
    assert {k.replace("|52|", "|54|") for k in a["committed"]} == set(b["committed"])
    assert {r["week"] for r in plan["responses"] if not r["past"]} == {"52"}  # copied, not changed


def test_weekly_truth_counts():
    t = inputs.truth(inputs.plan_corpus(3))
    kinds = inputs.WEEK_KINDS
    new = len(kinds) - kinds.count("empty")
    assert t["unpivoted"] - t["catalog_skipped"] == new
    assert t["resolved_exact"] + t["resolved_fuzzy"] + t["unresolved"] == new
    assert t["resolved_fuzzy"] == kinds.count("fuzzy") and t["unresolved"] == kinds.count("missing")
    assert t["images"] == new - kinds.count("missing") - kinds.count("corrupt")
    assert t["unreadable"] == kinds.count("corrupt") == 1


def test_history_is_a_year_of_weeks():
    plan = inputs.plan_corpus(3)
    weeks = {r["week"] for r in plan["responses"] if r["past"]}
    assert len(weeks) == inputs.HISTORY_WEEKS == 51
    t = inputs.truth(plan)
    assert t["catalog_skipped"] == t["catalog_rows_before"] == 51 * inputs.PROJECTS * 7


def test_staged_bytes_repeat_per_seed():
    jpeg = inputs.encode_cell("jpeg", 96, 64, 123)
    assert jpeg == inputs.encode_cell("jpeg", 96, 64, 123)
    assert jpeg != inputs.encode_cell("jpeg", 96, 64, 124)
    corrupt = inputs.encode_cell("corrupt", 96, 64, 123)
    assert jpeg.startswith(corrupt) and len(corrupt) < len(jpeg)


def test_reference_shape_encodes_to_the_reference_size():
    """A 648x490 photo re-encoded at q65 lands near the reference's
    recorded mean (46.26 KB; its outputs span 29.36-80.20 KB)."""
    from developing_img_etl_spark.multimodal import jpeg

    for seed in (1, 2):
        src = inputs.encode_cell("jpeg", *inputs.SMALL_SIZE, seed)
        kb = len(jpeg.jpeg_encode(jpeg.jpeg_decode(src), 65)) / 1024.0
        assert 40.0 < kb < 53.0


def test_stage_files_in_child_processes(tmp_path):
    plan = inputs.plan_corpus(4)
    plan["staged"] = [dict(c, w=c["w"] // 8, h=c["h"] // 8) for c in plan["staged"]]
    inputs.stage_files(plan, str(tmp_path / "a"), 2)
    inputs.stage_files(plan, str(tmp_path / "b"), 3)
    assert inputs.checksum(str(tmp_path / "a")) == inputs.checksum(str(tmp_path / "b"))
    assert sorted(os.listdir(tmp_path / "a")) == sorted(c["file"] for c in plan["staged"])
    assert host.descendants() == []


def test_capped_dims_truncates_like_the_reference():
    assert inputs.capped_dims(1280, 960) == (1024, 768)
    assert inputs.capped_dims(1200, 900) == (1024, 768)
    assert inputs.capped_dims(864, 1152) == (768, 1024)
    assert inputs.capped_dims(1100, 825) == (1024, 768)
    assert inputs.capped_dims(1025, 3) == (1024, 2)  # int(2.997) == 2
    assert inputs.capped_dims(800, 600) == (800, 600)


def test_checksum_tracks_bytes(tmp_path):
    (tmp_path / "a").write_bytes(b"x")
    before = inputs.checksum(str(tmp_path))
    (tmp_path / "READY").write_bytes(b"")
    assert inputs.checksum(str(tmp_path)) == before
    (tmp_path / "a").write_bytes(b"y")
    assert inputs.checksum(str(tmp_path)) != before


# -- statistics --------------------------------------------------------------
def test_tail_percentile_needs_ten_beyond():
    assert stats.tail_percentile(list(range(10))) is None
    t = stats.tail_percentile(list(range(100)))
    assert t == {"pct": 90.0, "value": 89.0, "n": 100}
    # with few samples the tail lands at or below the median
    t = stats.tail_percentile([float(v) for v in range(12)])
    assert t["pct"] < 50 and t["value"] == 1.0


def test_quartiles_and_geomean():
    assert stats.quartiles([1.0, 2.0, 3.0, 4.0]) == [1.25, 2.5, 3.75]
    assert stats.quartiles([7.0]) == [7.0, 7.0, 7.0]
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


# -- digest ------------------------------------------------------------------
def test_digest_int_never_matches_float():
    ints = pd.DataFrame({"a": [1, 2]})
    floats = pd.DataFrame({"a": [1.0, 2.0]})
    assert digest.frame_digest(ints) != digest.frame_digest(floats)


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
    assert digest.frame_digest(a) == digest.frame_digest(b)


def test_digest_is_exact_on_floats_and_strict_on_kinds():
    assert digest.frame_digest(pd.DataFrame({"a": [0.1 + 0.2]})) != \
        digest.frame_digest(pd.DataFrame({"a": [0.3]}))
    assert digest.canon_value("1") != digest.canon_value(1)
    assert digest.canon_value(True) != digest.canon_value(1)
    assert digest.canon_value(None) == digest.canon_value(float("nan"))
    assert digest.canon_value([1, 2]) != digest.canon_value([1.0, 2.0])
    with pytest.raises(TypeError):
        digest.canon_value(object())


# -- spans -------------------------------------------------------------------
def _span(sid, name, parent, start, end):
    return trace.Span(sid, name, parent, f"g{sid}", start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 6.0),  # overlaps a: union 1..6
        _span(3, "a.inner", 1, 2.0, 3.0),
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert trace.coverage(spans, spans[0]) == pytest.approx(0.5)
    by_name = trace.self_time_by_name(spans, spans[0])
    assert by_name == pytest.approx({"a": 2.0, "b": 3.0, "a.inner": 1.0})


def test_task_skew_uses_the_busiest_stage():
    g = {"task_s": {0: [0.1, 0.1, 5.0], 1: [1.0, 2.0, 3.0, 10.0]}}
    assert trace.task_skew(g) == pytest.approx(10.0 / 2.5)
    assert trace.task_skew({"task_s": {}}) == 0.0


def test_child_outside_parent_is_clipped():
    spans = [_span(0, "pass", None, 0.0, 2.0), _span(1, "a", 0, 1.0, 5.0)]
    assert trace.self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_nests_and_sets_groups():
    seen = []
    tr = trace.Tracer(seen.append, prefix="p0.")
    with tr.span("pass") as root:
        with tr.span("x"):
            pass
    assert [s.parent for s in tr.spans] == [None, root.sid]
    assert seen == ["p0.0:pass", "p0.1:x", "p0.0:pass", None]
    assert 0.0 <= trace.coverage(tr.spans, root) <= 1.0


def test_event_log_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 3000,
                       "Accumulables": [{"Name": "time to run Python workers", "Update": 5},
                                        {"Name": "data sent to Python workers", "Update": 7}]},
         "Task Metrics": {"Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {}, "Task Metrics": {}},
    ]
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = trace.event_log_groups(str(p))
    assert list(g) == ["g1"]
    assert g["g1"]["jobs"] == 1 and g["g1"]["stages"] == 1 and g["g1"]["tasks"] == 1
    assert g["g1"]["spill_bytes"] == 3 and g["g1"]["shuffle_write_bytes"] == 10
    assert g["g1"]["shuffle_read_bytes"] == 7 and g["g1"]["task_s"] == {1: [2.0]}
    assert trace.task_skew(g["g1"]) == 1.0
    assert g["g1"]["python_run"] == 5 and g["g1"]["python_sent_bytes"] == 7
    assert trace.find_event_log(str(tmp_path), "app-1") == str(p)
