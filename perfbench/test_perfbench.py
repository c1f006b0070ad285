"""Unit tests for the benchmark's own code (no Spark session needed).

Run: python -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
from pathlib import Path

import pytest
from pyspark.sql import Row

from perfbench import inputs as I
from perfbench import measure as M
from perfbench.tracing import covered

SPEC = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())


def test_metric_names_are_well_formed():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
    assert len(names) == len(set(names))
    for name in names:
        assert M.NAME_RE.fullmatch(name), name
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert M.UNIT_RE.fullmatch(m["unit"]), m


def test_result_line_rejects_bad_names_and_values():
    with pytest.raises(ValueError):
        M.result_line(M.Tally(1, 0), {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        M.result_line(M.Tally(1, 0), {"x": (float("nan"), "s")})
    line = json.loads(M.result_line(M.Tally(3, 1), {"p50_ms": (1.5, "ms")}))
    assert line == {
        "correct": False,
        "attempted": 3,
        "failed": 1,
        "metrics": {"p50_ms": {"value": 1.5, "unit": "ms"}},
    }


def test_p90_withheld_with_fewer_than_ten_samples_beyond_it():
    assert M.tail_percentile(list(range(1, 100)), 90) is None  # 9 beyond
    assert M.tail_percentile(list(range(1, 101)), 90) == 90  # 10 beyond
    assert M.tail_percentile([], 90) is None


def test_injected_exception_and_wrong_result_count_in_fail_frac():
    from perfbench.workloads import Collected
    from tools.oracle_check import compare

    def boom():
        raise RuntimeError("injected")

    oracle_cols, oracle_rows = ["id", "v"], [(1, 0.5), (2, 0.25)]
    good = M.run_op("good", lambda: [Row(id=1, v=0.5), Row(id=2, v=0.25)])
    wrong = M.run_op("wrong", lambda: [Row(id=1, v=0.5), Row(id=2, v=0.75)])
    raised = M.run_op("raised", boom)
    assert raised.error and "injected" in raised.error

    tally = M.check_outcomes(
        [good, wrong, raised],
        lambda o: compare(o.label, Collected(["id", "v"], o.output), oracle_rows, oracle_cols),
    )
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.fail_frac == pytest.approx(2 / 3)
    assert any(n.startswith("wrong: VALUES") for n in tally.notes)


def test_crashing_check_counts_as_failure():
    ok = M.run_op("ok", lambda: 1)
    tally = M.check_outcomes([ok], lambda o: 1 / 0)
    assert tally.failed == 1


def _requests(seed, label="timed", n=60):
    return list(itertools.islice(I.search_requests(seed, label), n))


def test_same_seed_same_request_stream_different_seed_different():
    assert _requests(7) == _requests(7)
    assert _requests(7) != _requests(8)
    assert _requests(7, "warm") != _requests(7)


def test_request_stream_is_balanced_and_inside_the_box():
    reqs = _requests(3, n=300)
    for block in range(0, 300, 3):
        assert sorted(r.kind for r in reqs[block : block + 3]) == sorted(I.KINDS)
    for r in reqs:
        assert I.LAT_MIN <= r.lat <= I.LAT_MIN + I.LAT_SPAN
        assert I.LON_MIN <= r.lon <= I.LON_MIN + I.LON_SPAN
        assert r.vec_id % I.NULL_EMB_EVERY != I.NULL_EMB_EVERY - 1  # probe has a vector
        assert (r.k, r.radius_km) == (I.TOP_K[r.kind], I.RADIUS_KM[r.kind])


def test_same_seed_same_tables_different_seed_different():
    assert I.embeddings_table(5, 40).equals(I.embeddings_table(5, 40))
    assert not I.embeddings_table(5, 40).equals(I.embeddings_table(6, 40))
    assert I.lineitem_table(5, 200, 50, 10).equals(I.lineitem_table(5, 200, 50, 10))
    assert not I.orders_table(5, 200, 30).equals(I.orders_table(6, 200, 30))


def test_covered_counts_overlaps_once():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10
    assert covered([]) == 0
