"""The bench's final stdout line must carry per-query durations inside the
driver's 2000-char tail (VERDICT r11 item 1: PERF_r11 came back with an
empty per_query because durations only existed in the oversized first
line).  These pin the size-bounded serializer."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _compact_summary_line  # noqa: E402


def _fixed_fields():
    return {
        "metric": "headline_total_sec",
        "value": 16.1,
        "unit": "sec",
        "cold_total_sec": 34.0,
        "tpch_total_sec": 12.7,
        "llm_total_sec": 106.0,
        "vs_baseline": {"headline": 0.96, "tpch": 1.0, "llm": 0.96},
        "n_regressions": 0,
        "regressions": [],
        "n_new_queries": 0,
        "n_failed": 0,
        "errors": {},
        "sf": 0.1,
    }


def test_line_fits_tail_and_carries_slowest_queries():
    # realistic registry scale: 185 queries with bench-like name lengths
    all_q = {
        f"query_family_name_number_{i:03d}": round(0.05 + i * 0.037, 3)
        for i in range(185)
    }
    line = _compact_summary_line(_fixed_fields(), all_q)
    assert len(line) <= 1950
    parsed = json.loads(line)
    assert parsed["n_queries"] == 185
    q = parsed["queries"]
    assert len(q) > 30  # a real per-query block, not a token one
    # slowest-first truncation: every included query is >= every excluded one
    included = set(q)
    floor = min(q.values())
    for name, sec in all_q.items():
        if name not in included:
            assert sec <= floor
    # durations survive verbatim
    for name, sec in q.items():
        assert all_q[name] == sec


def test_small_suite_included_whole():
    all_q = {f"q{i}": float(i) for i in range(10)}
    parsed = json.loads(_compact_summary_line(_fixed_fields(), all_q))
    assert parsed["queries"] == {f"q{i}": float(i) for i in range(1, 10)} | {
        "q0": 0.0
    }


def test_failed_queries_excluded_but_counted():
    all_q = {"ok_one": 1.5, "broken": None, "ok_two": 0.5}
    parsed = json.loads(_compact_summary_line(_fixed_fields(), all_q))
    assert parsed["n_queries"] == 3
    assert parsed["queries"] == {"ok_one": 1.5, "ok_two": 0.5}


def test_pathological_fixed_fields_shed_queries_but_stay_json():
    fields = _fixed_fields()
    fields["errors"] = {f"e{i}": "x" * 60 for i in range(8)}
    fields["regressions"] = [
        {"group": "llm", "query": f"long_query_name_{i}", "ratio": 2.5,
         "run_median": 1.1}
        for i in range(10)
    ]
    fields["n_regressions"] = 10
    all_q = {f"query_{i:03d}": 1.0 for i in range(185)}
    line = _compact_summary_line(fields, all_q, budget=600)
    parsed = json.loads(line)  # still a valid last line
    assert parsed["queries"] == {}
    assert parsed["n_regressions"] == 10
