"""Self-test of the benchmark's own code: digests, the recorded-digest
check, result parsing, spread, the span arithmetic and the input
generators. Needs no Spark:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import digest  # noqa: E402
import gen  # noqa: E402
from sessions import check_add_v, check_search  # noqa: E402
from tracer import Span, Tracer, children_index, self_time, union_length  # noqa: E402


def test_digest_ignores_key_order_and_last_bit_noise():
    a = json.dumps({"x": [1, 2.0000000000001, "s"], "y": {"b": 1.5, "a": None}})
    b = json.dumps({"y": {"a": None, "b": 1.5}, "x": [1, 2.0, "s"]})
    assert digest.digest_text(a) == digest.digest_text(b)


def test_digest_sees_real_changes():
    base = digest.digest_text(json.dumps({"charts": [{"score": 0.5}]}))
    assert base != digest.digest_text(json.dumps({"charts": [{"score": 0.51}]}))
    assert base != digest.digest_text(json.dumps({"charts": [{"score": 0.5}, {"score": 0.5}]}))
    # order within a list is part of the answer (charts are ranked)
    two = digest.digest_text(json.dumps([1, 2]))
    assert two != digest.digest_text(json.dumps([2, 1]))


def test_canonical_keeps_nonfinite_and_rejects_non_json():
    assert digest.canonical([float("nan"), float("inf")]) == ["nan", "inf"]
    with pytest.raises(TypeError):
        digest.canonical({"t": object()})


def test_check_without_record_compares_with_first_sighting():
    chk = digest.DigestCheck(None)
    assert chk.check("search", "aaa")
    assert chk.check("search", "aaa")
    assert not chk.check("search", "bbb")
    assert chk.mismatches == ["search: bbb != aaa"]


def test_check_with_record():
    chk = digest.DigestCheck({"ingest": "aaa", "add_t": "error:TypeError"})
    assert not chk.check("ingest", "zzz")
    assert chk.check("add_t", "error:TypeError")
    # a recorded defect that is fixed later is not a wrong answer
    assert chk.check("add_t", "ccc")
    # an operation that starts failing is
    chk2 = digest.DigestCheck({"ingest": "aaa"})
    assert not chk2.check("ingest", "error:ValueError")


def test_record_round_trip(tmp_path, monkeypatch):
    monkeypatch.setattr(digest, "EXPECTED_DIR", str(tmp_path))
    digest.record_expected("w", 10, {"b": "2", "a": "1"})
    digest.record_expected("w", 2, {"a": "3"})
    assert digest.load_expected("w", 10) == {"a": "1", "b": "2"}
    assert list(json.load(open(tmp_path / "w.json"))) == ["2", "10"]
    assert digest.load_expected("w", 3) is None
    assert digest.load_expected("other", 10) is None


def test_error_digest_names_the_exception():
    assert digest.error_digest(TypeError("x")) == "error:TypeError"


def _line(**over):
    res = {"correct": True, "attempted": 3, "failed": 1,
           "metrics": {"wall_s": {"value": 1.25, "unit": "s"}}}
    res.update(over)
    return json.dumps(res)


def test_parse_result_takes_the_last_line():
    res = digest.parse_result("noise\n" + _line() + "\n")
    assert res["metrics"]["wall_s"]["value"] == 1.25


@pytest.mark.parametrize(
    "bad",
    [
        "",
        _line(attempted=0),
        _line(failed=4),
        _line(extra=1),
        _line(metrics={"wall_s": {"value": "1", "unit": "s"}}),
        _line(metrics={"wall_s": {"value": 1, "unit": "s", "n": 3}}),
    ],
)
def test_parse_result_rejects(bad):
    with pytest.raises(ValueError):
        digest.parse_result(bad)


def test_spread_is_iqr_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    # statistics.quantiles (exclusive): q1 = 2.75, q3 = 8.25, median 5.5
    assert digest.spread(vals) == pytest.approx(5.5 / 5.5)
    assert digest.spread([2.0] * 5) == 0.0


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10), (1, 2)]) == pytest.approx(10.0)


def test_self_time_subtracts_covered_children():
    parent = Span(1, "engine", 0.0, 10.0, None, 0)
    kids = children_index(
        [parent, Span(2, "a", 1.0, 4.0, 1, 0), Span(3, "b", 3.0, 5.0, 1, 0), Span(4, "c", 9.0, 12.0, 1, 0)]
    )
    # children cover [1, 5] and [9, 10] of the parent: 5 s of 10
    assert self_time(parent, kids) == pytest.approx(5.0)


class _Target:
    def work(self, x):
        return x + 1


def test_tracer_wraps_restores_and_parents_pool_threads():
    tr = Tracer()
    tr.wrap(_Target, "work", "layer", on_return=lambda args, r: tr.count("seen", r))
    with tr.span("endpoint.search") as root:
        assert _Target().work(1) == 2
        th = threading.Thread(target=lambda: _Target().work(5))
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    tr.uninstall()
    assert _Target.work.__name__ == "work" and _Target().work(1) == 2
    layer = [s for s in tr.spans if s.name == "layer"]
    assert len(layer) == 2 and all(s.parent == root for s in layer)
    assert tr.counts["seen"] == 8


def test_tracer_restores_inherited_methods():
    class Child(_Target):
        pass

    tr = Tracer()
    tr.wrap(Child, "work", "layer")
    assert "work" in vars(Child)
    tr.uninstall()
    assert "work" not in vars(Child)


def test_generators_are_seeded():
    a = gen.lineitem(3, 500, 100, 50, 10)
    pd.testing.assert_frame_equal(a, gen.lineitem(3, 500, 100, 50, 10))
    assert not a.equals(gen.lineitem(4, 500, 100, 50, 10))
    assert gen.spreadsheet(5, 2) == gen.spreadsheet(5, 2)
    assert gen.spreadsheet(5, 2) != gen.spreadsheet(6, 2)


@pytest.mark.parametrize("index", range(len(gen.SHEET_SHAPES)))
def test_spreadsheet_shapes(index):
    headers, body = gen.spreadsheet(11, index)
    assert 200 <= len(body) <= 1000
    assert 6 <= len(headers) <= 20
    assert len(set(headers)) == len(headers)
    assert headers[0] == "Year" and any(h in gen.NOMINAL_NAMES for h in headers)


def test_check_add_v_is_an_independent_count():
    sample = pd.Series(["b", "a", "b", "c"], name="flag")
    ok = {"result": {"data": {"flag": ["a", "b", "c"], "COUNT": [1, 2, 1]}}}
    assert check_add_v(ok, "flag", sample) == []
    off = {"result": {"data": {"flag": ["a", "b", "c"], "COUNT": [1, 1, 2]}}}
    assert check_add_v(off, "flag", sample)


def test_check_search():
    good = {"charts": [{"chart_type": "sum_bar", "score": 0.9}, {"chart_type": "count_bar", "score": 0.1}],
            "provenance": {}}
    assert check_search(good, ["bar"]) == []
    assert check_search(good, ["scatter"])  # not requested
    unranked = {"charts": list(reversed(good["charts"])), "provenance": {}}
    assert check_search(unranked, ["bar"])
    assert check_search({"charts": [], "provenance": {}}, ["bar"])


def test_since_takes_steal_off_the_wall_time(monkeypatch):
    import run

    # in 10 s the machine wanted 30 CPU-seconds and got 24: work that
    # wanted that CPU ran at 0.8 of its speed and would have taken 8 s
    monkeypatch.setattr(run, "clock", lambda: (10.0, 24.0, 6.0))
    assert run.since((0.0, 0.0, 0.0)) == (10.0, 8.0)
    # nothing stolen: the net time is the wall time
    monkeypatch.setattr(run, "clock", lambda: (1.0, 3.0, 0.0))
    assert run.since((0.0, 0.0, 0.0)) == (1.0, 1.0)
    monkeypatch.setattr(run, "clock", lambda: (1.0, 0.0, 0.0))
    assert run.since((0.0, 0.0, 0.0)) == (1.0, 1.0)

